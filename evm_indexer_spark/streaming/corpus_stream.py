"""Corpus-audit-on-arrival: running top-ngram statistics maintained
incrementally as documents land — the streaming twin of
``operators.corpus.top_ngrams`` (q65), completing the
dedup-on-arrival + audit-on-arrival story ``dedup_stream`` starts.

Why incremental: the batch audit tokenizes the WHOLE corpus; at 100 TB
that is a full-corpus pass per refresh. N-gram counts are a sum
monoid, so the running statistic only needs each batch's partial
counters — per epoch the stream tokenizes O(batch), appends one slim
(ngram, occ, docs) partial table, and the current top-k is a
groupBy-sum over partials whose size tracks DISTINCT n-grams (Zipf:
far below corpus size), not documents.

The store is a summed-counter epoch log (``epochlog.CounterLog``):
compaction MERGES (groupBy-sum), so it bounds both file count and row
count at the distinct-ngram cardinality.

The stream has no id guard (``epochlog.arrival_stream``): when the
source can re-land a document, feed it through ``dedup_stream``'s text
store, whose anti-join yields the at-most-once flow this audit needs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.corpus import _ngram_counts_pandas
from .epochlog import CounterLog, arrival_stream, doc_schema

STATS_SCHEMA = StructType(
    [
        StructField("ngram", StringType(), False),
        StructField("occ", LongType(), False),
        StructField("docs", LongType(), False),
    ]
)


class NgramStatsStore:
    """Parquet-backed running (ngram, occ, docs) partial counts."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self._log = CounterLog(spark, path, STATS_SCHEMA, "NgramStatsStore")

    def partials(self) -> DataFrame:
        """Raw partial rows across all batch dirs."""
        return self._log.partials()

    def totals(self) -> DataFrame:
        """(ngram, n_occurrences, n_docs) summed over every partial."""
        return self._log.totals().withColumnsRenamed(
            {"occ": "n_occurrences", "docs": "n_docs"}
        )

    def top(self, k: int = 100, min_count: int = 2) -> DataFrame:
        """Current corpus top-k — same contract as the batch operator:
        ordered by occurrences desc then ngram (deterministic cut),
        n-grams below *min_count* total occurrences excluded."""
        return (
            self.totals()
            .filter(F.col("n_occurrences") >= min_count)
            .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
            .limit(k)
        )

    def append(self, partial: DataFrame, batch_id: int) -> None:
        """Persist one epoch's partial counters under
        ``batch=<batch_id>`` (overwrite — re-delivery replaces)."""
        self._log.append(partial, batch_id)

    def retract(
        self,
        partial: DataFrame,
        doc_ids: DataFrame,
        retraction_id: int | None = None,
    ) -> None:
        """Remove a previously-appended contribution (see
        ``CounterLog.retract``). Callers recompute the partial from the
        retracted docs exactly as the stream did
        (``_ngram_counts_pandas`` with the same n); *doc_ids* is a
        one-column DataFrame of the retracted ids."""
        self._log.retract(partial, doc_ids, retraction_id)

    def compact(self) -> int:
        """Merge every batch dir into one summed base generation (see
        ``CounterLog.compact``); returns the number of dirs folded."""
        return self._log.compact()


def start_ngram_stream(
    spark: SparkSession,
    landing_dir: str,
    store: NgramStatsStore,
    checkpoint_dir: str,
    on_top: Callable[[list, int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 100,
    min_count: int = 2,
):
    """Fold each arriving batch of ``{<id_col>, <text_col>}`` docs'
    n-gram partial counters into *store* and report the UPDATED corpus
    top-k through ``on_top(rows, batch_id)`` (rows are dicts with ngram
    / n_occurrences / n_docs, already ordered). Delivery follows
    ``epochlog.arrival_stream``.

    After any prefix of epochs, ``store.top(k, min_count)`` equals
    ``corpus.top_ngrams`` run over every document landed so far — the
    incremental = batch equivalence pytest pins. Tokenization is the
    same Arrow partial-counter pass the batch operator uses, so the
    two can never drift."""

    def step(batch: DataFrame, _prior, bid: int) -> None:
        partial = _ngram_counts_pandas(batch, text_col, n).select(
            "ngram",
            F.col("n_occurrences").alias("occ"),
            F.col("n_docs").alias("docs"),
        )
        store.append(partial, batch_id=bid)
        rows = store.top(k, min_count).collect()
        on_top([r.asDict() for r in rows], bid)

    return arrival_stream(
        spark, landing_dir, doc_schema(id_col, text_col), checkpoint_dir,
        [store.path], step,
    )
