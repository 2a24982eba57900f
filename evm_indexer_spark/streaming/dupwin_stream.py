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

The index is a summed-counter epoch log (``epochlog.CounterLog``), fed
by ``epochlog.arrival_stream`` with an id guard: a re-arrived doc
would count its windows twice.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.corpus import _window_hashes, incremental_dup_window_stats
from . import epochlog
from .epochlog import CounterLog, _claim_stamp

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
    """Write each arriving ``{<id_col>, <text_col>}`` doc's
    duplicated-span statistics vs the corpus indexed so far (doc_id /
    n_tokens / n_windows / dup_windows / covered_tokens) to
    ``<stats_dir>/batch=<batch_id>`` (default ``<index>/_stats``), then
    append the batch's window counters to *index* and its ids to
    ``<index>/_ids``, the id guard (``assume_new_ids=True`` skips it).
    Delivery follows ``epochlog.arrival_stream``; ``on_stats(rows,
    batch_id)`` opts in to the read-back."""
    ids_dir = posixpath.join(index.path, "_ids")
    out_dir = stats_dir or posixpath.join(index.path, "_stats")
    id_schema = StructType([StructField(id_col, LongType(), False)])

    def absorb(batch: DataFrame, bid: int) -> None:
        index.append(batch, id_col, text_col, batch_id=bid)
        epochlog.write(batch.select(id_col), ids_dir, bid)

    return epochlog.arrival_stream(
        spark, landing_dir, epochlog.doc_schema(id_col, text_col),
        checkpoint_dir, [index.path, ids_dir, out_dir],
        lambda batch, _prior, bid: index.stats_for(
            batch, id_col, text_col, exclude_epoch=bid
        ),
        seen=None if assume_new_ids else (
            lambda bid: epochlog.read(spark, ids_dir, id_schema, exclude=bid)
        ),
        sink=out_dir, on_sink=on_stats, absorb=absorb,
    )
