"""Vocab-on-arrival: a BPE tokenizer kept current as documents land —
the streaming twin of ``operators.tokenizer.bpe_train`` (q75), the
fifth arrival-time pipeline (text dedup, embedding dedup, n-gram
audit, substring dedup, and now tokenizer retraining).

Why incremental: retraining a tokenizer from scratch re-tokenizes the
WHOLE corpus; at 100 TB that is a full-corpus pass per refresh. Word
counts are a sum monoid, so the running state only needs each batch's
(word, freq) partial — per epoch the stream tokenizes O(batch),
appends one slim partial, and re-derives the merge list from the
summed counts, which costs the VOCAB loop (Zipf-bounded, driver-tiered
below 100k words), never a corpus re-scan. Merges reported at each
epoch equal ``bpe_train`` over all documents landed so far (pinned by
test_vocab_stream's prefix-equivalence probe).

The store is a summed-counter epoch log (``epochlog.CounterLog``). The
stream has no id guard (``epochlog.arrival_stream``): feed it through
``dedup_stream``'s text store when the source can re-land a document.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.tokenizer import bpe_train_from_counts, word_counts
from .epochlog import CounterLog, arrival_stream, doc_schema

VOCAB_SCHEMA = StructType(
    [
        StructField("word", StringType(), False),
        StructField("freq", LongType(), False),
    ]
)


class WordCountStore:
    """Parquet-backed running (word, freq) partial counts."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self._log = CounterLog(spark, path, VOCAB_SCHEMA, "WordCountStore")

    def partials(self) -> DataFrame:
        return self._log.partials()

    def counts(self) -> DataFrame:
        """Current corpus word counts (partials summed)."""
        return self._log.totals()

    def append(self, docs: DataFrame, text_col: str, batch_id: int = 0) -> None:
        self._log.append(word_counts(docs, text_col), batch_id)

    def retract(
        self,
        docs: DataFrame,
        text_col: str,
        id_col: str = "doc_id",
        retraction_id: int | None = None,
    ) -> None:
        """Remove *docs*' word-count contribution (see
        ``CounterLog.retract``); at-most-once is enforced per *id_col*.
        Text must be the exact appended text."""
        self._log.retract(
            word_counts(docs, text_col), docs.select(id_col), retraction_id
        )

    def compact(self, coalesce_n: int = 1) -> int:
        """Fold batch dirs into one merged base generation (see
        ``CounterLog.compact``); returns the number of dirs folded."""
        return self._log.compact(coalesce_n)

    def train(
        self, num_merges: int = 8, min_freq: int = 1
    ) -> list[tuple[str, str, int]]:
        """Merges for the corpus landed so far — the vocab loop only."""
        return bpe_train_from_counts(self.counts(), num_merges, min_freq)


def start_vocab_stream(
    spark: SparkSession,
    landing_dir: str,
    store: WordCountStore,
    checkpoint_dir: str,
    on_merges: Callable[[list, int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
    num_merges: int = 8,
    min_freq: int = 1,
):
    """Fold each arriving batch of ``{<id_col>, <text_col>}`` docs'
    word counts into *store* and report the UPDATED merge list through
    ``on_merges(merges, batch_id)`` (a list of (left, right, count)
    tuples, equal to batch training over everything landed so far).
    Delivery follows ``epochlog.arrival_stream``."""

    def step(batch: DataFrame, _prior, bid: int) -> None:
        store.append(batch, text_col, batch_id=bid)
        on_merges(store.train(num_merges, min_freq), bid)

    return arrival_stream(
        spark, landing_dir, doc_schema(id_col, text_col), checkpoint_dir,
        [store.path], step,
    )
