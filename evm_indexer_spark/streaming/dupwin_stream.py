"""Substring-dedup-on-arrival: duplicated-span detection maintained
incrementally as documents land — the streaming twin of
``operators.corpus.duplicate_window_spans`` (q73), joining the
dedup-on-arrival (``dedup_stream``), embedding-on-arrival
(``embed_stream``) and audit-on-arrival (``corpus_stream``) family.

Why incremental: the batch audit hashes every window of the WHOLE
corpus; at 100 TB that is a full-corpus pass per refresh. Window-hash
occurrence counts are a sum monoid, so the running state only needs
each batch's partial (h, occ) counters — per epoch the stream hashes
O(batch) windows, reports span statistics for the arriving docs
against the index (one slim hash equi-join), and appends the batch's
own counters. Statistics reported at arrival time are exactly what the
batch operator would say about those docs at that corpus state
(pinned by test_dupwin_stream's prefix-equivalence probe and the q76
gate identity).

The index is a summed-counter epoch log (``epochlog.CounterLog``).

Delivery contract: each document must land at most once across epochs.
The stream enforces it with an id-store anti-join (epoch re-deliveries
are exempt: the id read excludes the current epoch's own directory),
the same guard as ``start_dedup_stream``.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.corpus import _window_hashes, incremental_dup_window_stats
from . import epochlog
from .epochlog import CounterLog, _claim_stamp, _stream_batch_base

HASH_SCHEMA = StructType(
    [
        StructField("h", LongType(), False),
        StructField("occ", LongType(), False),
    ]
)


class WindowHashIndex:
    """Parquet-backed running (h, occ) window-hash counters.

    The window length is fixed at construction and MUST stay constant
    for the index lifetime — hashes of different window lengths occupy
    disjoint spaces and would silently never collide. A marker file
    records it (atomic create-if-absent claim, exactly like
    ``MinHashBucketIndex``); reopening with a different length raises.
    """

    _MARKER = "_window_n"

    def __init__(self, spark: SparkSession, path: str, window_n: int = 8) -> None:
        if window_n < 1:
            raise ValueError(f"window_n must be >= 1, got {window_n}")
        self.spark = spark
        self.path = path
        self.window_n = window_n
        _claim_stamp(spark, path, self._MARKER, str(window_n))
        self._log = CounterLog(spark, path, HASH_SCHEMA, "WindowHashIndex")

    def hashes(self, exclude_epoch: int | None = None) -> DataFrame:
        """All partial counters; consumers sum per hash.
        ``exclude_epoch`` drops that epoch's own ``batch=`` dir — the
        stream passes the current epoch so a crashed-then-redelivered
        batch is not scored against its own first-attempt counters."""
        return self._log.partials(exclude=exclude_epoch)

    def _partial(self, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        return (
            _window_hashes(docs, id_col, text_col, self.window_n)
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("occ"))
        )

    def append(
        self, docs: DataFrame, id_col: str, text_col: str, batch_id: int = 0
    ) -> None:
        """Hash *docs*' windows and persist their (h, occ) partial under
        ``batch=<batch_id>`` (overwrite — epoch re-delivery replaces)."""
        self._log.append(self._partial(docs, id_col, text_col), batch_id)

    def retract(
        self,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        retraction_id: int | None = None,
    ) -> None:
        """Remove *docs*' counter contribution — the retraction path
        for reorged/taken-down documents: re-hash their windows and
        append the NEGATED partial (``CounterLog.retract``: ledgered,
        at-most-once per id, idempotent under the same
        *retraction_id*). O(retracted docs) work, no store rewrite. The
        text must be the exact appended text. The doc's id stays
        consumed in the arrival stream's id store: retraction removes
        CONTENT statistics, it does not re-open the id for landing."""
        self._log.retract(
            self._partial(docs, id_col, text_col), docs.select(id_col),
            retraction_id,
        )

    def compact(self, coalesce_n: int = 1) -> int:
        """Fold batch dirs into one merged base generation, bounding
        files AND rows at distinct-hash cardinality (see
        ``CounterLog.compact``); returns the number of dirs folded."""
        return self._log.compact(coalesce_n)

    def stats_for(
        self,
        batch: DataFrame,
        id_col: str,
        text_col: str,
        exclude_epoch: int | None = None,
    ) -> DataFrame:
        """Duplicated-span statistics for *batch* against the indexed
        corpus state (see ``incremental_dup_window_stats``)."""
        return incremental_dup_window_stats(
            batch,
            self.hashes(exclude_epoch=exclude_epoch),
            id_col,
            text_col,
            self.window_n,
        )


def start_dupwin_stream(
    spark: SparkSession,
    landing_dir: str,
    index: WindowHashIndex,
    checkpoint_dir: str,
    on_stats: Callable[[list, int], None] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    assume_new_ids: bool = False,
    stats_dir: str | None = None,
):
    """Stream newline-JSON ``{<id_col>, <text_col>}`` docs from
    *landing_dir*; per micro-batch: write each arriving doc's
    duplicated-span statistics vs the corpus indexed so far (rows with
    doc_id / n_tokens / n_windows / dup_windows / covered_tokens) to
    ``<stats_dir>/batch=<batch_id>`` (default ``<index>/_stats``), then
    append the batch's window counters to *index*. Stats volume is
    O(batch docs) — bounded, unlike pair verdicts — but the default
    stays the executor-side sink for uniformity with the dedup
    streams; ``on_stats(rows, batch_id)`` opts in to a driver
    read-back of the written epoch. The callback id is the STORE
    batch id (``_stream_batch_base + epoch``) — the ``batch=<id>``
    dir the stats landed in, stable across checkpoint lineages.

    Cross-epoch id re-arrival would double the re-arrived doc's window
    counters; the stream anti-joins each batch against the ids already
    appended (epoch re-deliveries exempt — the id store read excludes
    the current epoch's own dir, so a crashed epoch reprocesses in
    full). ``availableNow`` + the same checkpoint dir resumes across
    restarts."""
    ids_dir = posixpath.join(index.path, "_ids")
    out_dir = stats_dir or posixpath.join(index.path, "_stats")
    base = _stream_batch_base(
        spark, checkpoint_dir, [index.path, ids_dir, out_dir]
    )
    doc_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField(text_col, StringType(), True),
        ]
    )
    id_schema = StructType([StructField(id_col, LongType(), False)])

    def _process(batch: DataFrame, epoch_id: int) -> None:
        bid = base + epoch_id
        batch = batch.dropDuplicates([id_col])
        if not assume_new_ids:
            seen = epochlog.read(spark, ids_dir, id_schema, exclude=bid)
            batch = batch.join(seen, id_col, "left_anti")
        if not batch.take(1):
            return
        stats = index.stats_for(batch, id_col, text_col, exclude_epoch=bid)
        stat_schema = stats.schema
        epochlog.write(stats, out_dir, bid)
        if on_stats is not None:
            rows = spark.read.schema(stat_schema).parquet(
                epochlog.batch_path(out_dir, bid)
            ).collect()
            on_stats([r.asDict() for r in rows], bid)
        index.append(batch, id_col, text_col, batch_id=bid)
        epochlog.write(batch.select(id_col), ids_dir, bid)

    stream = (
        spark.readStream.schema(doc_schema)
        .json(landing_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    return stream.start()
