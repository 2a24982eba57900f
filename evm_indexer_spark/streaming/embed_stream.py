"""Embedding-dedup-on-arrival: a persisted hyperplane-LSH bucket index
plus a streaming pipeline that reports embedding near-duplicate pairs
as vectors land — the embedding twin of ``dedup_stream`` (text), built
on the same epoch log (``streaming/epochlog``) and re-arrival guard.

Why incremental: at 100 TB re-hashing the vector corpus per refresh has
the same cost problem the MinHash index solves for text. Each arriving
batch is bucketed once (one Arrow matmul over O(batch) vectors), joined
against the persisted (id, bucket) index, exactly cosine-verified, and
its own bucket rows appended for future batches — per-batch cost is
O(batch + collisions), nothing rescans the corpus.

The ``_planes`` marker pins (n_planes, n_tables, seed, dim) for the
index lifetime: rows from different hyperplane sets share no geometry,
so a mixed index would silently stop colliding.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..operators import similarity
from . import epochlog
from .epochlog import (
    _append_tombstones,
    _claim_stamp,
    _stream_batch_base,
    _tombstones_df,
)

EMBED_BUCKET_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("bucket", LongType(), False),
    ]
)


class EmbeddingBucketIndex:
    """Parquet-backed (id, bucket) hyperplane-LSH index under ``path``.

    Hyperplane parameters are fixed at construction and MUST stay
    constant for the index lifetime; the ``_planes`` marker records
    them (atomic create-if-absent — two racing constructors converge
    to one writer) and reopening with different values raises. ``dim``
    is required: the index outlives any one batch, so the usual
    infer-from-a-row shortcut would stamp whatever the first batch
    happened to carry.
    """

    _MARKER = "_planes"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dim: int,
        n_planes: int = 12,
        n_tables: int = 6,
        seed: int = 42,
    ) -> None:
        self.spark = spark
        self.path = path
        self.dim = dim
        self.n_planes = n_planes
        self.n_tables = n_tables
        self.seed = seed
        # underscore prefix: invisible to the epoch-log read
        self._tombstones_dir = posixpath.join(path, "_tombstones")
        _claim_stamp(
            spark, path, self._MARKER, f"{n_planes},{n_tables},{seed},{dim}"
        )

    def buckets(self) -> DataFrame:
        """All PHYSICAL bucket rows, tombstoned ids included (explicit
        schema: empty/partial batch dirs must not poison inference).
        Serving paths read ``live_buckets()``."""
        return epochlog.read(self.spark, self.path, EMBED_BUCKET_SCHEMA)

    def live_buckets(self) -> DataFrame:
        """Bucket rows minus deleted ids — what every candidate join
        consumes (broadcast anti-join; zero extra plan nodes while the
        index has no tombstones)."""
        tombs = self.tombstones()
        if tombs is None:
            return self.buckets()
        return self.buckets().join(F.broadcast(tombs), "id", "left_anti")

    def tombstones(self) -> DataFrame | None:
        """Deleted ids, ``None`` when the index has none."""
        return _tombstones_df(self.spark, self._tombstones_dir)

    def delete(self, ids, batch_id: int | None = None) -> None:
        """Tombstone *ids*: they stop producing candidate pairs
        immediately; physical rows remain until ``compact()``. Same
        terminal-until-compact contract as
        ``MinHashBucketIndex.delete`` (the vec store still lists the
        id, so re-arrivals stay guarded out until maintenance)."""
        _append_tombstones(self.spark, self._tombstones_dir, ids, batch_id)

    def append(
        self, docs: DataFrame, id_col: str, vec_col: str, batch_id: int = 0
    ) -> None:
        """Bucket *docs* and persist their rows under
        ``batch=<batch_id>`` (overwrite — re-delivery of the same epoch
        replaces, never duplicates)."""
        rows = similarity.embedding_buckets(
            docs, id_col, vec_col, self.n_planes, self.n_tables, self.seed,
            self.dim,
        )
        epochlog.write(rows, self.path, batch_id)

    def compact(self) -> int:
        """Fold every ``batch=*`` directory into one base generation,
        dropping tombstoned rows — same contract as
        ``MinHashBucketIndex.compact``. Returns the number of
        directories folded."""
        return epochlog.compact_tombstoned(
            self.spark, self.path, self._tombstones_dir, self.live_buckets,
            self.n_tables,
        )

    def pairs_for(
        self,
        new_docs: DataFrame,
        corpus_docs: DataFrame,
        id_col: str,
        vec_col: str,
        min_cosine: float = 0.95,
    ) -> DataFrame:
        """Near-dup pairs involving *new_docs*: vs the index + within
        the batch, exactly cosine-verified against *corpus_docs*
        vectors. *new_docs* ids must not already be indexed — the
        streaming wrapper enforces this with an arrival anti-join."""
        return similarity.incremental_embedding_pairs(
            new_docs,
            self.live_buckets(),
            corpus_docs,
            id_col,
            vec_col,
            min_cosine,
            self.n_planes,
            self.n_tables,
            self.seed,
            self.dim,
        )


def start_embedding_dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    index: EmbeddingBucketIndex,
    checkpoint_dir: str,
    on_pairs: Callable[[list, int], None] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    min_cosine: float = 0.95,
    seen_vec_dir: str | None = None,
    assume_new_ids: bool = False,
    pairs_dir: str | None = None,
):
    """Stream newline-JSON ``{<id_col>, <vec_col>}`` vectors from
    *landing_dir*; per micro-batch: write near-dup pairs
    (new-vs-corpus + new-vs-new) to ``<pairs_dir>/batch=<batch_id>``
    (default ``<index>/_pairs``), then append the batch to the index
    and to the vector store future verifications read from.

    Same delivery contract as ``start_dedup_stream``: cross-epoch id
    re-arrival is dropped by an anti-join against the vector store
    (epoch re-deliveries are exempt — the store read excludes the
    current epoch's own directory, so a crashed epoch reprocesses in
    full); sources that guarantee at-most-once ids skip the guard with
    ``assume_new_ids=True``. ``availableNow`` + the same checkpoint dir
    resumes across restarts. The verdict path is the same
    executor-side parquet sink as ``start_dedup_stream`` (pair volume
    is unbounded under an all-duplicates batch); ``on_pairs`` opts in
    to a driver read-back of the written epoch for bounded batches."""
    vec_dir = seen_vec_dir or posixpath.join(index.path, "_vecs")
    out_dir = pairs_dir or posixpath.join(index.path, "_pairs")
    base = _stream_batch_base(
        spark, checkpoint_dir, [index.path, vec_dir, out_dir]
    )
    doc_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField(vec_col, ArrayType(DoubleType()), True),
        ]
    )

    def _process(batch: DataFrame, epoch_id: int) -> None:
        bid = base + epoch_id
        batch = batch.dropDuplicates([id_col])
        prior = epochlog.read(spark, vec_dir, doc_schema, exclude=bid)
        if not assume_new_ids:
            batch = batch.join(prior.select(id_col), id_col, "left_anti")
        if not batch.take(1):
            return
        corpus = prior.unionByName(batch.select(id_col, vec_col))
        pairs = index.pairs_for(
            batch, corpus, id_col, vec_col, min_cosine
        )
        pair_schema = pairs.schema
        epochlog.write(pairs, out_dir, bid)
        if on_pairs is not None:
            rows = spark.read.schema(pair_schema).parquet(
                epochlog.batch_path(out_dir, bid)
            ).collect()
            on_pairs([r.asDict() for r in rows], bid)
        index.append(batch, id_col, vec_col, batch_id=bid)
        epochlog.write(batch.select(id_col, vec_col), vec_dir, bid)

    stream = (
        spark.readStream.schema(doc_schema)
        .json(landing_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    return stream.start()


def start_ann_index_stream(
    spark: SparkSession,
    landing_dir: str,
    index,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    assume_new_ids: bool = False,
):
    """ANN-serving-on-arrival: stream newline-JSON ``{<id_col>,
    <vec_col>}`` vectors from *landing_dir* into a built
    ``similarity.IvfServingIndex`` — each micro-batch is assigned to
    its nearest existing cells and appended under ``batch=<batch_id>``
    (O(batch) work, quantizer fixed), so ``topk``/``topk_pq`` stay
    fresh without any rebuild.

    Delivery contract matches the other arrival pipelines: epoch
    re-delivery overwrites its own batch dir (converges); cross-epoch
    id re-arrival is dropped by an anti-join against the index's slim
    id scan excluding the current epoch (a crashed epoch reprocesses
    in full); ``assume_new_ids=True`` skips the guard for sources that
    guarantee at-most-once ids. ``availableNow`` + the same checkpoint
    dir resumes across restarts. Batch ids come from the per-lineage
    high-water mark (``_stream_batch_base``), so restarting against an
    existing index with a FRESH checkpoint starts above every batch
    already absorbed instead of silently overwriting ``batch=1``."""
    doc_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField(vec_col, ArrayType(DoubleType()), True),
        ]
    )
    # batch=0 belongs to the BUILD even when the stream starts before
    # one exists — arrivals never own it
    base = max(
        _stream_batch_base(spark, checkpoint_dir, [index._vectors_dir]), 1
    )

    def _process(batch, epoch_id: int) -> None:
        # stable per (lineage, epoch): re-delivery overwrites its own
        # dir; a fresh lineage starts above the absorbed high-water mark
        batch_id = base + epoch_id
        batch = batch.dropDuplicates([id_col])
        if not assume_new_ids:
            prior = index.indexed_ids(exclude_batch=batch_id).withColumnRenamed(
                "id", id_col
            )
            batch = batch.join(prior, id_col, "left_anti")
        if not batch.take(1):
            return
        index.append(batch, id_col, vec_col, batch_id=batch_id)

    stream = (
        spark.readStream.schema(doc_schema)
        .json(landing_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    return stream.start()
