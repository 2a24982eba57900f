"""The arrival-stream delivery contract (``epochlog.arrival_stream``),
checked once over all seven ``start_*_stream`` drivers, and a guard
that keeps every arrival index on that one runner.

For every driver, a FRESH checkpoint over filled stores must start
above the existing batch dirs and leave every one of them — ``batch=0``
included — untouched. For the guarded drivers, re-landing ids the
stores already hold must write nothing at all.
"""

from __future__ import annotations

import ast
import json
import math
import os
import pathlib

import pytest

import evm_indexer_spark
from evm_indexer_spark.operators import similarity
from evm_indexer_spark.streaming.contam_stream import (
    EvalGramIndex,
    start_contamination_stream,
)
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
from evm_indexer_spark.streaming.embed_stream import (
    EmbeddingBucketIndex,
    start_ann_index_stream,
    start_embedding_dedup_stream,
)
from evm_indexer_spark.streaming.vocab_stream import (
    WordCountStore,
    start_vocab_stream,
)

TEXT = "the quick brown fox jumps over the lazy dog while the band plays"
DIM = 8


def _text(i: int, salt: str = "") -> str:
    return f"{TEXT} {salt}variant {i}"


def _vec(i: int, salt: str = "") -> list[float]:
    vals = [math.sin((i + 5 * len(salt)) * 13.7 + k * 2.1) for k in range(DIM)]
    n = math.sqrt(sum(v * v for v in vals))
    return [v / n for v in vals]


# Each driver: (guarded, payload, setup). ``setup(spark, path)`` builds
# the stores and returns (start, roots, grows): ``start(landing, ckpt,
# on_batch)`` starts the stream, reporting every callback's batch id
# through ``on_batch``; ``roots`` are every store root the stream
# derives batch ids from; ``grows`` are the roots each non-empty batch
# appends a dir to, the callback's dir last.


def _contamination(spark, path):
    index = EvalGramIndex(spark, path, n=4)
    index.append(
        spark.createDataFrame([(0, _text(0))], "doc_id long, text string"),
        "text",
    )
    stats = os.path.join(path, "_stats")

    def start(landing, ckpt, on_batch):
        return start_contamination_stream(
            spark, landing, index, ckpt,
            on_stats=lambda rows, bid: on_batch(bid),
        )

    return start, [path, stats], [stats]


def _ngram(spark, path):
    store = NgramStatsStore(spark, path)

    def start(landing, ckpt, on_batch):
        return start_ngram_stream(
            spark, landing, store, ckpt, lambda rows, bid: on_batch(bid)
        )

    return start, [path], [path]


def _dedup(spark, path):
    index = MinHashBucketIndex(spark, path, num_hashes=16, bands=8)
    roots = [path, os.path.join(path, "_text"), os.path.join(path, "_pairs")]

    def start(landing, ckpt, on_batch):
        return start_dedup_stream(
            spark, landing, index, ckpt,
            on_pairs=lambda pairs, bid: on_batch(bid),
        )

    return start, roots, roots


def _dupwin(spark, path):
    index = WindowHashIndex(spark, path, window_n=4)
    roots = [path, os.path.join(path, "_ids"), os.path.join(path, "_stats")]

    def start(landing, ckpt, on_batch):
        return start_dupwin_stream(
            spark, landing, index, ckpt,
            on_stats=lambda rows, bid: on_batch(bid),
        )

    return start, roots, roots


def _embedding(spark, path):
    index = EmbeddingBucketIndex(spark, path, dim=DIM)
    roots = [path, os.path.join(path, "_vecs"), os.path.join(path, "_pairs")]

    def start(landing, ckpt, on_batch):
        return start_embedding_dedup_stream(
            spark, landing, index, ckpt,
            on_pairs=lambda pairs, bid: on_batch(bid),
        )

    return start, roots, roots


def _ann(spark, path):
    built = spark.createDataFrame(
        [(100 + i, _vec(100 + i)) for i in range(6)],
        "vec_id long, vec array<double>",
    )
    index = similarity.IvfServingIndex.build(
        built, "vec_id", "vec", path, n_lists=2
    )
    vectors = os.path.join(path, "vectors")

    def start(landing, ckpt, on_batch):
        return start_ann_index_stream(spark, landing, index, ckpt)

    return start, [vectors], [vectors]


def _vocab(spark, path):
    store = WordCountStore(spark, path)

    def start(landing, ckpt, on_batch):
        return start_vocab_stream(
            spark, landing, store, ckpt, lambda merges, bid: on_batch(bid)
        )

    return start, [path], [path]


DRIVERS = {
    "contamination": (False, "text", _contamination),
    "ngram": (False, "text", _ngram),
    "dedup": (True, "text", _dedup),
    "dupwin": (True, "text", _dupwin),
    "embedding": (True, "vec", _embedding),
    "ann": (True, "vec", _ann),
    "vocab": (False, "text", _vocab),
}


def _land(landing: pathlib.Path, name: str, payload: str, ids, salt=""):
    with open(landing / name, "w") as fh:
        for i in ids:
            doc = (
                {"doc_id": i, "text": _text(i, salt)}
                if payload == "text"
                else {"vec_id": i, "vec": _vec(i, salt)}
            )
            fh.write(json.dumps(doc) + "\n")


def _batch_dirs(roots) -> dict:
    """{root: {batch dir name: sorted (file, size) pairs}}."""
    out = {}
    for root in roots:
        dirs = {}
        for d in sorted(pathlib.Path(root).glob("batch=*")):
            dirs[d.name] = sorted(
                (str(f.relative_to(d)), f.stat().st_size)
                for f in d.rglob("*")
                if f.is_file()
            )
        out[root] = dirs
    return out


def _numeric(name: str) -> int | None:
    tail = name[len("batch="):]
    return int(tail) if tail.isdigit() else None


@pytest.mark.parametrize("driver", sorted(DRIVERS))
def test_arrival_contract(spark, tmp_path, driver):
    guarded, payload, setup = DRIVERS[driver]
    start, roots, grows = setup(spark, str(tmp_path / "ix"))
    bids: list[int] = []

    def run(landing: str, ckpt: str) -> None:
        q = start(str(tmp_path / landing), str(tmp_path / ckpt), bids.append)
        q.awaitTermination(120)

    def land(landing: str, name: str, ids, salt="") -> None:
        (tmp_path / landing).mkdir(exist_ok=True)
        _land(tmp_path / landing, name, payload, ids, salt)

    land("landing1", "b1.json", [0, 1])
    run("landing1", "ckpt1")
    before = _batch_dirs(roots)
    assert any("batch=0" in dirs for dirs in before.values())
    high = max(
        n for dirs in before.values() for d in dirs
        if (n := _numeric(d)) is not None
    )

    # a second lineage: fresh checkpoint, same stores, one new doc
    bids.clear()
    land("landing2", "b2.json", [2])
    run("landing2", "ckpt2")
    after = _batch_dirs(roots)
    for root, dirs in before.items():
        for name, files in dirs.items():
            assert after[root][name] == files, f"{root}/{name} was rewritten"
    new = {root: sorted(set(after[root]) - set(before[root])) for root in roots}
    (bid,) = {_numeric(d) for root in grows for d in new[root]}
    assert bid > high
    for root in roots:
        assert new[root] == ([f"batch={bid}"] if root in grows else [])
    assert spark.read.parquet(os.path.join(grows[0], f"batch={bid}")).count() > 0
    if driver != "ann":  # the one driver without a callback
        assert bids == [bid]

    if guarded:
        # seen ids re-land with new payloads: the guard drops them all
        bids.clear()
        land("landing2", "b3.json", [0, 2], salt="re ")
        run("landing2", "ckpt2")
        assert _batch_dirs(roots) == after
        assert bids == []


def test_foreach_batch_lives_in_the_two_runners():
    """Only the ingest stream and the arrival runner start a
    ``foreachBatch`` sink; a driver that grows its own copy of the
    skeleton fails here."""
    pkg = pathlib.Path(evm_indexer_spark.__file__).parent
    sites: dict[str, int] = {}
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        n = sum(
            isinstance(node, ast.Attribute) and node.attr == "foreachBatch"
            for node in ast.walk(tree)
        )
        if n:
            sites[path.relative_to(pkg).as_posix()] = n
    assert sites == {"streaming/epochlog.py": 1, "streaming/ingest.py": 1}
