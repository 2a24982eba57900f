"""Decontamination-on-arrival: per-arrival contamination rows must
equal the batch operator (corpus.ngram_contamination) against the eval
set as it stood at scoring time, over every prefix of landed training
docs; eval append/retract reshape the probe side in O(their grams);
the retraction contract is enforced; at gate fixtures the stream's
union equals the q80 oracle's answer."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from evm_indexer_spark.operators import corpus
from evm_indexer_spark.streaming.contam_stream import (
    EvalGramIndex,
    start_contamination_stream,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

EVAL_DOCS = [
    (100, "the quick brown fox jumps over the lazy dog near the river bank"),
    (110, "a completely different benchmark sentence that nobody copied yet"),
]
TRAIN_LEGS = [
    # leg 1: doc 0 copies an eval window verbatim; doc 1 is clean
    [
        (0, "prefix words then the quick brown fox jumps over the lazy dog here"),
        (1, "totally clean training text with no overlap at all in any window"),
    ],
    # leg 2: doc 2 copies the OTHER eval doc; doc 3 short (no windows)
    [
        (2, "see a completely different benchmark sentence that nobody copied yet ok"),
        (3, "too short"),
    ],
]


def _land(path, rows, name):
    with open(os.path.join(path, name), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _batch_truth(spark, train_rows, eval_rows, n=8):
    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    ev = spark.createDataFrame(eval_rows, ["doc_id", "text"])
    return {
        tuple(r)
        for r in corpus.ngram_contamination(
            train, ev, "doc_id", "text", n=n
        ).collect()
    }


def test_stream_equals_batch_over_every_prefix(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    index = EvalGramIndex(spark, str(tmp_path / "eg"), n=8)
    index.append(
        spark.createDataFrame(EVAL_DOCS, ["doc_id", "text"]), "text",
        batch_id=0,
    )
    got: list[dict] = []

    def run():
        q = start_contamination_stream(
            spark, str(landing), index, ckpt,
            on_stats=lambda rows, bid: got.extend(rows),
        )
        q.awaitTermination(120)

    landed: list = []
    for i, leg in enumerate(TRAIN_LEGS):
        landed.extend(leg)
        _land(str(landing), leg, f"b{i}.json")
        got.clear()
        run()
        # arrival rows for THIS leg equal the batch operator on the leg
        assert {
            (r["id"], r["n_windows"], r["n_contaminated"], r["contaminated"])
            for r in got
        } == _batch_truth(spark, leg, EVAL_DOCS)
    # the sink's union across epochs equals the batch run on everything
    sink = spark.read.parquet(str(tmp_path / "eg" / "_stats")).drop("batch")
    assert {
        tuple(r) for r in sink.collect()
    } == _batch_truth(spark, landed, EVAL_DOCS)
    # contamination actually fired where planted
    by_id = {r[0]: r for r in (tuple(x) for x in sink.collect())}
    assert by_id[0][3] is True and by_id[2][3] is True
    assert by_id[1][3] is False and by_id[3][1] == 0

    # restart with no new files: silent
    got.clear()
    run()
    assert got == []


def test_eval_retraction_reshapes_probe_and_is_enforced(spark, tmp_path):
    index = EvalGramIndex(spark, str(tmp_path / "eg"), n=8)
    ev = spark.createDataFrame(EVAL_DOCS, ["doc_id", "text"])
    # two epochs so compaction has a foldable snapshot (the newest
    # numeric epoch is always withheld from the fold)
    index.append(ev.filter(F.col("doc_id") == 100), "text", batch_id=0)
    index.append(ev.filter(F.col("doc_id") == 110), "text", batch_id=1)
    train = spark.createDataFrame(
        TRAIN_LEGS[0] + TRAIN_LEGS[1], ["doc_id", "text"]
    )
    # withdraw eval doc 100: doc 0's hits vanish, doc 2's survive
    gone = ev.filter(F.col("doc_id") == 100)
    index.retract(gone, "text")
    got = {
        tuple(r)
        for r in index.contamination_for(train, "doc_id", "text").collect()
    }
    assert got == _batch_truth(spark, TRAIN_LEGS[0] + TRAIN_LEGS[1],
                               EVAL_DOCS[1:])
    # double retract is rejected (shared ledger)
    with pytest.raises(ValueError, match="already retracted"):
        index.retract(gone, "text")
    # compaction folds the retraction physically; answers hold and no
    # zero-sum gram survives
    assert index.compact() >= 1
    assert {
        tuple(r)
        for r in index.contamination_for(train, "doc_id", "text").collect()
    } == got
    assert index.partials().filter(F.col("occ") <= 0).count() == 0


def test_shared_grams_survive_partial_retraction(spark, tmp_path):
    # two eval docs SHARE a window; retracting one must keep the gram
    # probed (occ stays positive) — set semantics would get this wrong
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    ev = spark.createDataFrame(
        [(1, shared + " one"), (2, shared + " two")], ["doc_id", "text"]
    )
    index = EvalGramIndex(spark, str(tmp_path / "eg"), n=8)
    index.append(ev, "text", batch_id=0)
    index.retract(ev.filter(F.col("doc_id") == 1), "text")
    train = spark.createDataFrame(
        [(0, "x " + shared + " y")], ["doc_id", "text"]
    )
    row = index.contamination_for(train, "doc_id", "text").collect()[0]
    assert row["contaminated"] is True  # doc 2 still holds the gram


def test_matches_q80_oracle_fixture(spark, tmp_path):
    """The stream's answer over the gate fixture equals the q80 batch
    split (train = doc_id%10!=0, eval = %10==0) — the oracle identity,
    via the batch operator already hash-pinned against DuckDB."""
    from evm_indexer_spark.sources.tables import load_table

    doc = load_table(spark, SF_DIR, "documents")
    ev = doc.filter(F.col("doc_id") % 10 == 0)
    train = doc.filter(F.col("doc_id") % 10 != 0)
    index = EvalGramIndex(spark, str(tmp_path / "eg"), n=8)
    index.append(ev, "text", batch_id=0)
    got = {
        tuple(r)
        for r in index.contamination_for(train, "doc_id", "text").collect()
    }
    want = {
        tuple(r)
        for r in corpus.ngram_contamination(
            train, ev, "doc_id", "text", n=8
        ).collect()
    }
    assert got == want


def test_index_n_marker_is_immutable(spark, tmp_path):
    EvalGramIndex(spark, str(tmp_path / "eg"), n=8)
    with pytest.raises(ValueError):
        EvalGramIndex(spark, str(tmp_path / "eg"), n=5)
    with pytest.raises(ValueError):
        EvalGramIndex(spark, str(tmp_path / "eg2"), n=0)


def test_skipgram_mode_equals_batch_operator(spark, tmp_path):
    """mode='skipgram': arrival rows equal corpus.skipgram_contamination
    — one-substitution tolerance included — against the same eval set."""
    ev_rows = [
        (100, "the quick brown fox jumps over the lazy dog near the river")
    ]
    tr_rows = [
        # verbatim copy: contaminated in both modes
        (0, "x the quick brown fox jumps over the lazy dog y"),
        # ONE substituted token (fox->cat): skipgram-contaminated only
        (1, "x the quick brown cat jumps over the lazy dog y"),
        # two substitutions: clean in both modes
        (2, "x the quick brown cat naps over the lazy dog y"),
    ]
    ev = spark.createDataFrame(ev_rows, ["doc_id", "text"])
    train = spark.createDataFrame(tr_rows, ["doc_id", "text"])
    index = EvalGramIndex(spark, str(tmp_path / "sg"), n=8, mode="skipgram")
    index.append(ev, "text", batch_id=0)
    got = {
        tuple(r)
        for r in index.contamination_for(train, "doc_id", "text").collect()
    }
    want = {
        tuple(r)
        for r in corpus.skipgram_contamination(
            train, ev, "doc_id", "text", n=8
        ).collect()
    }
    assert got == want
    by_id = {r[0]: r for r in got}
    assert by_id[0][3] is True and by_id[1][3] is True
    assert by_id[2][3] is False
    # the ngram-mode index on the same data does NOT tolerate the
    # substitution — the two modes are genuinely different checks
    ng = EvalGramIndex(spark, str(tmp_path / "ng"), n=8, mode="ngram")
    ng.append(ev, "text", batch_id=0)
    ng_by_id = {
        r["id"]: r["contaminated"]
        for r in ng.contamination_for(train, "doc_id", "text").collect()
    }
    assert ng_by_id[0] is True and ng_by_id[1] is False


def test_skipgram_mode_retraction_and_marker(spark, tmp_path):
    ev_rows = [
        (100, "the quick brown fox jumps over the lazy dog near the river")
    ]
    ev = spark.createDataFrame(ev_rows, ["doc_id", "text"])
    index = EvalGramIndex(spark, str(tmp_path / "sg"), n=8, mode="skipgram")
    index.append(ev, "text", batch_id=0)
    train = spark.createDataFrame(
        [(1, "x the quick brown cat jumps over the lazy dog y")],
        ["doc_id", "text"],
    )
    assert index.contamination_for(train, "doc_id", "text").collect()[0][
        "contaminated"
    ] is True
    index.retract(ev, "text")
    assert index.contamination_for(train, "doc_id", "text").collect()[0][
        "contaminated"
    ] is False
    with pytest.raises(ValueError, match="already retracted"):
        index.retract(ev, "text")
    # mode is stamped: reopening with a different mode raises
    with pytest.raises(ValueError):
        EvalGramIndex(spark, str(tmp_path / "sg"), n=8, mode="ngram")
    with pytest.raises(ValueError, match="unknown mode"):
        EvalGramIndex(spark, str(tmp_path / "other"), n=8, mode="fuzzy")


def test_probe_routing_is_plan_pinned(spark, tmp_path):
    """The size routing must materialize in the PLAN: a broadcast hash
    join under eval_small=True, a shuffled hash join (never a forced
    broadcast) under eval_small=False."""
    import io
    from contextlib import redirect_stdout

    ev = spark.createDataFrame(EVAL_DOCS, ["doc_id", "text"])
    index = EvalGramIndex(spark, str(tmp_path / "eg"), n=8)
    index.append(ev, "text", batch_id=0)
    train = spark.createDataFrame(TRAIN_LEGS[0], ["doc_id", "text"])

    def plan(eval_small):
        df = index.contamination_for(
            train, "doc_id", "text", eval_small=eval_small
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    small = plan(True)
    assert "BroadcastHashJoin" in small
    big = plan(False)
    assert "ShuffledHashJoin" in big
    # and the routed-vs-routed answers are value-identical
    a = sorted(map(tuple, index.contamination_for(
        train, "doc_id", "text", eval_small=True).collect()))
    b = sorted(map(tuple, index.contamination_for(
        train, "doc_id", "text", eval_small=False).collect()))
    assert a == b


def test_contamination_against_eval_windows_parity(spark):
    """``contamination_against`` in skipgram mode gives the expected
    verdicts (verbatim and one-substitution copies contaminated, two
    substitutions and windowless docs clean) and the same rows in the
    broadcast and shuffle-hash regimes."""
    from evm_indexer_spark.streaming.contam_stream import (
        contamination_against,
        mode_keys,
    )

    ev_rows = [
        (100, "the quick brown fox jumps over the lazy dog near the river"),
        (110, "a completely different benchmark sentence that nobody copied yet"),
    ]
    tr_rows = [
        # verbatim copy: contaminated under both paths
        (0, "prefix words then the quick brown fox jumps over the lazy dog"),
        # one substitution (fox→cat): skipgram-contaminated
        (1, "x the quick brown cat jumps over the lazy dog near the it y"),
        # two substitutions: clean
        (2, "x the quick brown cat naps over the lazy dog near the it y"),
        (3, "too short"),
    ]
    ev = spark.createDataFrame(ev_rows, ["doc_id", "text"])
    train = spark.createDataFrame(tr_rows, ["doc_id", "text"])
    grams = mode_keys(ev, "text", 8, "skipgram").select("gram").distinct()
    base = contamination_against(
        train, grams, "doc_id", "text", n=8, mode="skipgram",
        eval_small=True,
    )
    a = sorted(map(tuple, base.collect()))
    by_id = {r[0]: r for r in a}
    assert by_id[0][3] is True and by_id[1][3] is True
    assert by_id[2][3] is False and by_id[3][3] is False
    shuffled = contamination_against(
        train, grams, "doc_id", "text", n=8, mode="skipgram",
        eval_small=False,
    )
    assert sorted(map(tuple, shuffled.collect())) == a
