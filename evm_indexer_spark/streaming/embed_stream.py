"""Embedding-dedup-on-arrival: a persisted hyperplane-LSH bucket index
plus a streaming pipeline that reports embedding near-duplicate pairs
as vectors land — the embedding twin of ``dedup_stream`` (text), which
differs from it only in the payload column (both run ``_pair_stream``).

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
from .dedup_stream import _pair_stream
from .epochlog import _append_tombstones, _claim_stamp, _tombstones_df

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
    """``start_dedup_stream`` over ``{<id_col>, <vec_col>}`` vectors:
    near-dup pairs (cosine-verified, new-vs-corpus + new-vs-new) go to
    ``<pairs_dir>/batch=<batch_id>`` (default ``<index>/_pairs``), then
    the batch is appended to the index and to the vector store
    (``seen_vec_dir``, default ``<index>/_vecs``), which is also the id
    guard. Delivery follows ``epochlog.arrival_stream``."""
    return _pair_stream(
        spark, landing_dir, index, checkpoint_dir, on_pairs, id_col,
        vec_col, ArrayType(DoubleType()), min_cosine,
        seen_vec_dir or posixpath.join(index.path, "_vecs"),
        assume_new_ids, pairs_dir,
    )


def start_ann_index_stream(
    spark: SparkSession,
    landing_dir: str,
    index,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    assume_new_ids: bool = False,
):
    """ANN-serving-on-arrival: append arriving ``{<id_col>, <vec_col>}``
    vectors to a built ``similarity.IvfServingIndex`` — each batch is
    assigned to its nearest existing cells under ``batch=<batch_id>``
    (O(batch) work, quantizer fixed), so ``topk``/``topk_pq`` stay
    fresh without any rebuild. Delivery follows
    ``epochlog.arrival_stream``; the id guard reads the index's slim id
    scan (``assume_new_ids=True`` skips it), and ``batch=0`` belongs to
    the build, so arrivals start at ``batch=1`` even when the stream
    starts before a build exists."""

    def step(batch: DataFrame, _prior, bid: int) -> None:
        index.append(batch, id_col, vec_col, batch_id=bid)

    return epochlog.arrival_stream(
        spark, landing_dir,
        epochlog.doc_schema(id_col, vec_col, ArrayType(DoubleType())),
        checkpoint_dir, [index._vectors_dir], step,
        seen=None if assume_new_ids else (
            lambda bid: index.indexed_ids(exclude_batch=bid)
            .withColumnRenamed("id", id_col)
        ),
        min_batch=1,
    )
