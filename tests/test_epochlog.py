"""The epoch log's crash contract, proven once for every summed store.

A fold publishes its ``batch=base<G>`` by rename and only then deletes
the dirs it consumed. A crash between the two must not expose a folded
row twice — summed partials would double-count forever.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import evm_indexer_spark.streaming.epochlog as el
from evm_indexer_spark.operators.corpus import _ngram_counts_pandas
from evm_indexer_spark.streaming.contam_stream import EvalGramIndex
from evm_indexer_spark.streaming.corpus_stream import NgramStatsStore
from evm_indexer_spark.streaming.dupwin_stream import WindowHashIndex
from evm_indexer_spark.streaming.vocab_stream import WordCountStore

TEXT = "alpha beta gamma alpha beta gamma delta"


# each maker returns (store, append(docs, batch_id),
# retract(docs, retraction_id), totals())


def _ngram_store(spark, path):
    store = NgramStatsStore(spark, path)

    def partial(docs):
        return _ngram_counts_pandas(docs, "text", 2).select(
            "ngram",
            F.col("n_occurrences").alias("occ"),
            F.col("n_docs").alias("docs"),
        )

    return (
        store,
        lambda docs, i: store.append(partial(docs), batch_id=i),
        lambda docs, k: store.retract(
            partial(docs), docs.select("doc_id"), retraction_id=k
        ),
        store.totals,
    )


def _word_count_store(spark, path):
    store = WordCountStore(spark, path)
    return (
        store,
        lambda docs, i: store.append(docs, "text", i),
        lambda docs, k: store.retract(docs, "text", retraction_id=k),
        store.counts,
    )


def _window_hash_index(spark, path):
    ix = WindowHashIndex(spark, path, window_n=2)
    return (
        ix,
        lambda docs, i: ix.append(docs, "doc_id", "text", i),
        lambda docs, k: ix.retract(docs, "doc_id", "text", retraction_id=k),
        lambda: ix.hashes().groupBy("h").agg(F.sum("occ").alias("occ")),
    )


def _eval_gram_index(spark, path):
    ix = EvalGramIndex(spark, path, n=2)
    return (
        ix,
        lambda docs, i: ix.append(docs, "text", i),
        lambda docs, k: ix.retract(docs, "text", retraction_id=k),
        lambda: ix.partials().groupBy("gram").agg(F.sum("occ").alias("occ")),
    )


STORES = pytest.mark.parametrize(
    "make",
    [_ngram_store, _word_count_store, _window_hash_index, _eval_gram_index],
    ids=["NgramStatsStore", "WordCountStore", "WindowHashIndex", "EvalGramIndex"],
)


class _Crash(Exception):
    pass


@STORES
def test_fold_crash_after_publish_never_double_counts(
    spark, tmp_path, monkeypatch, make
):
    root = tmp_path / "log"
    store, append, _, totals = make(spark, str(root))
    for i in range(3):
        append(spark.createDataFrame([(i, TEXT)], "doc_id long, text string"), i)
    want = sorted(map(tuple, totals().collect()))

    def crash(*_a, **_k):
        raise _Crash

    # die right after the rename published batch=base0, before the
    # folded batch=0/batch=1 are deleted
    monkeypatch.setattr(el, "_retire_folded", crash)
    with pytest.raises(_Crash):
        store.compact()
    monkeypatch.undo()
    batches = sorted(d for d in os.listdir(root) if d.startswith("batch="))
    assert batches == ["batch=0", "batch=1", "batch=2", "batch=base0"]
    assert sorted(map(tuple, totals().collect())) == want

    # recovery: the next compact deletes what the record names, then
    # the record; only the held-back newest epoch is left to fold
    assert store.compact() == 0
    batches = sorted(d for d in os.listdir(root) if d.startswith("batch="))
    assert batches == ["batch=2", "batch=base0"]
    assert not (root / "batch=base0" / "_folded").exists()
    assert sorted(map(tuple, totals().collect())) == want


def test_retraction_ids_survive_compaction(spark, tmp_path):
    """Compaction folds ``batch=retract<k>`` away, but k is never
    reused: a reused k would overwrite the earlier ledger entry and
    let the first retracted doc be retracted a second time."""
    store = WordCountStore(spark, str(tmp_path / "wc"))
    docs = [
        spark.createDataFrame([(i, f"word{i} shared")], "doc_id long, text string")
        for i in range(3)
    ]
    for i, d in enumerate(docs):
        store.append(d, "text", batch_id=i)
    store.retract(docs[0], "text")
    assert store.compact() == 3  # batch=0, batch=1, retract0
    store.retract(docs[1], "text")
    assert (tmp_path / "wc" / "batch=retract1").is_dir()
    with pytest.raises(ValueError, match="already retracted"):
        store.retract(docs[0], "text")
    # word0 cancelled inside the fold (zero-sum rows are dropped)
    assert {r["word"]: r["freq"] for r in store.counts().collect()} == {
        "word1": 0, "word2": 1, "shared": 1,
    }


@STORES
def test_retry_of_folded_retraction_is_a_noop(spark, tmp_path, make):
    """An explicit-id retry after compaction folded ``retract<k>``
    away must not cancel the retracted doc a second time: the fold
    marked the ledger entry, so the retry writes nothing."""
    store, append, retract, totals = make(spark, str(tmp_path / "log"))
    docs = [
        spark.createDataFrame([(i, t)], "doc_id long, text string")
        for i, t in enumerate(["alpha beta", "alpha gamma", "alpha delta"])
    ]
    for i, d in enumerate(docs):
        append(d, i)
    retract(docs[0], 7)
    assert store.compact() == 3  # batch=0, batch=1, retract7
    want = sorted(map(tuple, totals().collect()))
    retract(docs[0], 7)
    assert sorted(map(tuple, totals().collect())) == want
    assert not (tmp_path / "log" / "batch=retract7").exists()
