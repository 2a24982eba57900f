"""Dedup-on-arrival: a persisted MinHash bucket index plus a streaming
pipeline that reports near-duplicate pairs as documents land.

The reference engine has no corpus operators at all (its streams carry
blocks; SURVEY §2.8) — this extends the training-data side of the house
the same way ``operators/dedup`` extends the batch side: when the
historical corpus is far too large to re-sign per batch (the 100 TB
case), dedup must be INCREMENTAL — each arriving batch is signed once,
joined against the persisted bucket index, exactly verified, and its
own bucket rows appended for future batches.

Scale shape per batch: O(batch) signing (narrow), one slim bucket
equi-join against the index (partition-pruned by parquet min/max on the
uniform ``bh`` key at real scale), verification bounded by collisions.
Nothing rescans the corpus; the index grows by O(batch × bands) rows
between ``compact()`` calls.

The bucket rows, the text store and the pair sink are epoch logs
(``streaming/epochlog``: overwrite-idempotent batch dirs, crash-safe
folds, id tombstones), fed by ``epochlog.arrival_stream``.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators import dedup
from . import epochlog
from .epochlog import _append_tombstones, _claim_stamp, _tombstones_df

BUCKET_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("band", IntegerType(), False),
        StructField("bh", LongType(), False),
    ]
)


class MinHashBucketIndex:
    """Parquet-backed (id, band, bh) LSH index under ``path``.

    Banding parameters are fixed at construction and MUST stay constant
    for the index lifetime — rows from different configurations occupy
    disjoint hash spaces and would silently never collide. A marker file
    records them; reopening with different values raises. Marker
    creation uses ``FileSystem.create(overwrite=False)`` — on a real
    filesystem that's an atomic claim, so two concurrent constructors
    race to one writer and the loser validates against what was
    written. Size the tiers with ``dedup.banding_for_corpus`` so batch
    jobs and this index can never disagree.
    """

    _MARKER = "_banding"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_hashes: int = 16,
        bands: int = 8,
        shingle_n: int = 3,
        strategy: str = "auto",
    ) -> None:
        self.spark = spark
        self.path = path
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        if strategy not in ("auto", "pandas", "expr"):
            raise ValueError(
                f"strategy must be one of auto/pandas/expr, got {strategy!r}"
            )
        # resolve "auto" so the persisted stamp is concrete: the two
        # signing strategies use different hash families, so an index
        # must be written AND queried with one of them forever
        self.strategy = "pandas" if strategy == "pandas" else "expr"
        # underscore prefix: invisible to the epoch-log read
        self._tombstones_dir = posixpath.join(path, "_tombstones")
        _claim_stamp(
            spark,
            path,
            self._MARKER,
            f"{num_hashes},{bands},{shingle_n},{self.strategy}",
        )

    def buckets(self) -> DataFrame:
        """All PHYSICAL bucket rows, tombstoned ids included (explicit
        schema: empty/partial batch dirs must not poison inference).
        Serving paths read ``live_buckets()``."""
        return epochlog.read(self.spark, self.path, BUCKET_SCHEMA)

    def live_buckets(self) -> DataFrame:
        """Bucket rows minus deleted ids — what every candidate join
        consumes. Tombstone volume is O(deletes since compact) —
        reorg/takedown-sized, always broadcastable."""
        tombs = self.tombstones()
        if tombs is None:
            return self.buckets()
        return self.buckets().join(F.broadcast(tombs), "id", "left_anti")

    def tombstones(self) -> DataFrame | None:
        """Deleted ids, ``None`` when the index has none."""
        return _tombstones_df(self.spark, self._tombstones_dir)

    def delete(self, ids, batch_id: int | None = None) -> None:
        """Tombstone *ids* (iterable or one-column DataFrame): they
        stop producing candidate pairs immediately (every serving join
        reads ``live_buckets()``); physical bucket rows remain until
        ``compact()`` folds them out. This is the retraction path a
        training corpus needs for reorged documents and right-to-be-
        forgotten deletes — O(deletes) now, physical at maintenance.

        A delete is TERMINAL until compact: the arrival streams' text
        store still lists the id, so a re-arrival is dropped by the
        re-arrival guard. delete → compact (index) → retire the text
        batch → re-land is the resurrection order."""
        _append_tombstones(self.spark, self._tombstones_dir, ids, batch_id)

    def append(
        self, docs: DataFrame, id_col: str, text_col: str, batch_id: int = 0
    ) -> None:
        """Sign *docs* and persist their bucket rows under
        ``batch=<batch_id>`` (overwrite — re-delivery of the same epoch
        replaces, never duplicates)."""
        rows = dedup.minhash_banded(
            docs, id_col, text_col, self.num_hashes, self.bands,
            self.shingle_n, self.strategy,
        )
        epochlog.write(rows, self.path, batch_id)

    def compact(self) -> int:
        """Fold every ``batch=*`` directory into one base generation,
        keeping LIVE rows only and clearing the consumed tombstones
        (``epochlog.compact_tombstoned``). A year-long stream appends one
        directory per epoch; the bucket read then pays file-listing and
        per-file-open costs linear in stream AGE rather than index size —
        run this from the maintenance cadence, not per epoch. Duplicate
        bucket rows (an epoch landing mid-compaction) are harmless:
        candidate pairs are de-duplicated and verification is exact.
        Returns the number of directories folded."""
        return epochlog.compact_tombstoned(
            self.spark, self.path, self._tombstones_dir, self.live_buckets,
            self.bands,
        )

    def pairs_for(
        self,
        new_docs: DataFrame,
        corpus_docs: DataFrame,
        id_col: str,
        text_col: str,
        jaccard_threshold: float = 0.5,
    ) -> DataFrame:
        """Near-dup pairs involving *new_docs*: vs the index + within
        the batch, exactly verified against *corpus_docs* text.
        *new_docs* ids must not already be indexed (the
        ``incremental_minhash_pairs`` precondition) — the streaming
        wrapper enforces this with an arrival anti-join. Deleted ids
        never produce candidates (the join reads ``live_buckets()``)."""
        return dedup.incremental_minhash_pairs(
            new_docs,
            self.live_buckets(),
            corpus_docs,
            id_col,
            text_col,
            self.num_hashes,
            self.bands,
            self.shingle_n,
            jaccard_threshold,
            self.strategy,
        )


def start_dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    index: MinHashBucketIndex,
    checkpoint_dir: str,
    on_pairs: Callable[[list, int], None] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    seen_text_dir: str | None = None,
    assume_new_ids: bool = False,
    pairs_dir: str | None = None,
):
    """Report near-dup pairs of arriving ``{<id_col>, <text_col>}`` docs
    (new-vs-corpus + new-vs-new) to ``<pairs_dir>/batch=<batch_id>``
    (default ``<index>/_pairs``), then append the batch to the index
    and to the text store (``seen_text_dir``, default ``<index>/_text``)
    that future verifications read. Delivery follows
    ``epochlog.arrival_stream``; ``on_pairs(pairs, batch_id)`` is the
    opt-in read-back for bounded batches — pair volume is unbounded
    when a batch is mostly duplicates (a crawler replay, a mirror
    dump), so the default verdict path is the parquet sink.

    The text store is the id guard: an id re-arriving in a LATER file
    would break the index precondition (its buckets would land twice
    and verification would merge shingles across both text versions),
    so it is dropped. The guard costs one slim id scan per batch;
    sources that guarantee at-most-once ids skip it with
    ``assume_new_ids=True``."""
    return _pair_stream(
        spark, landing_dir, index, checkpoint_dir, on_pairs, id_col,
        text_col, StringType(), jaccard_threshold,
        seen_text_dir or posixpath.join(index.path, "_text"),
        assume_new_ids, pairs_dir,
    )


def _pair_stream(
    spark: SparkSession,
    landing_dir: str,
    index,
    checkpoint_dir: str,
    on_pairs: Callable[[list, int], None] | None,
    id_col: str,
    payload_col: str,
    payload_type,
    threshold: float,
    store_dir: str,
    assume_new_ids: bool,
    pairs_dir: str | None,
):
    """The bucket-index pair stream shared by the text and embedding
    dedup streams, which differ only in the payload column: each batch
    is scored by ``index.pairs_for`` against the payloads already in
    *store_dir* plus its own, and then appended to the index and to
    *store_dir*."""
    out_dir = pairs_dir or posixpath.join(index.path, "_pairs")
    schema = epochlog.doc_schema(id_col, payload_col, payload_type)

    def stored(bid: int) -> DataFrame:
        return epochlog.read(spark, store_dir, schema, exclude=bid)

    def step(batch: DataFrame, prior, bid: int) -> DataFrame:
        if prior is None:  # unguarded: the store is still the corpus
            prior = stored(bid)
        corpus = prior.unionByName(batch.select(id_col, payload_col))
        return index.pairs_for(batch, corpus, id_col, payload_col, threshold)

    def absorb(batch: DataFrame, bid: int) -> None:
        index.append(batch, id_col, payload_col, batch_id=bid)
        epochlog.write(batch.select(id_col, payload_col), store_dir, bid)

    return epochlog.arrival_stream(
        spark, landing_dir, schema, checkpoint_dir,
        [index.path, store_dir, out_dir], step,
        seen=None if assume_new_ids else stored,
        sink=out_dir, on_sink=on_pairs, absorb=absorb,
    )
