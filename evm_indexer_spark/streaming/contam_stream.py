"""Decontamination-on-arrival: q80's verbatim n-gram train/eval
contamination check run incrementally as TRAINING documents land —
the streaming twin of ``operators.corpus.ngram_contamination``,
completing the arrival family (dedup, audit, substring-dedup, vocab,
embedding, ANN serving) with the benchmark-hygiene pipeline.

Why incremental: the batch check tokenizes the WHOLE training corpus
per refresh; at 100 TB that is a full-corpus pass every time the eval
suite changes a document. The eval side is the small, slowly-changing
side (benchmark suites are thousands of documents, not billions), so
the right shape is an index OF THE EVAL GRAMS: per arriving train
batch the stream tokenizes O(batch), probes the persisted gram set
(broadcast when small, shuffle-hash above the threshold — the same
size routing as the batch operator), and writes per-doc contamination
rows. Training text is never re-scanned when eval changes; new eval
docs append O(their grams), withdrawn eval docs RETRACT O(their grams)
through the shared at-most-once retraction ledger.

The index is a summed-counter epoch log (``epochlog.CounterLog``) of
(gram, occ) partials — occ is the eval-side occurrence count, so a gram
stays "present" while its sum is positive even when several eval docs
share it, and a retraction of one sharer cancels exactly without
erasing the others (set semantics would get this wrong).

Arrival rows are exactly what the batch operator would say about those
docs against the eval set at that moment — pinned by the
prefix-equivalence pytest and by the q80-oracle identity in
tests/test_contam_stream.py.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.corpus import (
    gram_array,
    skipgram_keys,
    skipgram_windows,
    window_variant_rows,
)
from ..operators.partitioning import spread_small_scan
from . import epochlog
from .epochlog import CounterLog, _claim_stamp

GRAM_SCHEMA = StructType(
    [
        StructField("gram", StringType(), False),
        StructField("occ", LongType(), False),
    ]
)


def mode_keys(
    docs: DataFrame, text_col: str, n: int, mode: str, *keep
) -> DataFrame:
    """(*keep*, gram) rows under *mode* — ``"ngram"`` emits the verbatim
    space-joined windows (the q80 key space), ``"skipgram"`` the n
    masked one-substitution variants per window (the q81 key space;
    also carries ``__pos`` so a window matching via several variants
    can be collapsed back to one). Shared by the index and the batch
    q82 entry, so both tokenize identically by construction."""
    if mode == "ngram":
        return docs.select(
            *keep, F.explode(gram_array(text_col, n)).alias("gram")
        )
    win = skipgram_windows(docs, text_col, n, *keep)
    return skipgram_keys(win, n, *keep, "__pos").withColumnRenamed(
        "__key", "gram"
    )


def contamination_against(
    docs: DataFrame,
    grams: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    mode: str = "ngram",
    min_hits: int = 1,
    eval_small: bool | None = None,
    broadcast_below: int = 2_000_000,
) -> DataFrame:
    """Per-doc contamination of *docs* against an eval gram set given
    as a one-column DataFrame (``gram``) — the scoring plan shared by
    ``EvalGramIndex.contamination_for`` (which passes its persisted,
    retraction-aware gram set) and the q82 catalog entry (which builds
    the grams in-plan from the eval split). Output contract is
    ``corpus.ngram_contamination``'s: (id, n_windows, n_contaminated,
    contaminated), exact integers.

    ``eval_small`` picks the probe plan (broadcast vs shuffle hash);
    None falls back to an EAGER count over *grams* at call time —
    index callers decide from their slim partials and entry callers
    from parquet footers precisely to avoid that job."""
    if min_hits < 1:
        raise ValueError("min_hits must be positive")
    if mode not in ("ngram", "skipgram"):
        raise ValueError(f"unknown mode {mode!r}")
    spread = spread_small_scan(docs).select(
        F.col(id_col).alias("id"), text_col
    )
    if eval_small is None:
        eval_small = (grams.count() or 0) <= broadcast_below
    probe = grams.select("gram").withColumn("__hit", F.lit(1))
    probe = F.broadcast(probe) if eval_small else probe.hint("shuffle_hash")
    if mode == "ngram":
        # outer explode: windowless docs ride the same scan as
        # NULL-gram rows — no zero-fill restore join (round 15, the
        # batch-twin topology in corpus.ngram_contamination)
        exploded = spread.select(
            "id",
            F.posexplode_outer(gram_array(text_col, n)).alias(
                "__i", "gram"
            ),
        )
        per_doc = (
            exploded.join(probe, "gram", "left")
            .groupBy("id")
            .agg(
                F.count("__i").alias("n_windows"),
                F.sum(
                    F.coalesce("__hit", F.lit(0))
                ).alias("n_contaminated"),
            )
        )
    else:
        # skipgram: a window matching via SEVERAL masked variants
        # counts once — collapse the n keyed rows back to one per
        # (id, window) first (two-level hash agg, map-side partial
        # on both levels; the q81 shape, no Expand node). Outer
        # explode keeps windowless docs as NULL rows.
        vrows = window_variant_rows(spread, "id", text_col, n).select(
            "id", "__i", F.explode_outer("__vars").alias("gram")
        )
        win_hits = (
            vrows.join(probe, "gram", "left")
            .groupBy("id", "__i")
            .agg(
                F.max(
                    F.when(F.col("__hit").isNotNull(), 1).otherwise(0)
                ).alias("__h")
            )
        )
        per_doc = win_hits.groupBy("id").agg(
            F.count("__i").alias("n_windows"),
            F.sum("__h").alias("n_contaminated"),
        )
    return per_doc.select(
        "id",
        "n_windows",
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        (F.coalesce("n_contaminated", F.lit(0)) >= min_hits).alias(
            "contaminated"
        ),
    )


class EvalGramIndex:
    """Parquet-backed summed (gram, occ) partials of an eval corpus's
    n-token windows — the persisted probe side of decontamination.

    ``mode``: ``"ngram"`` (default) stores the verbatim space-joined
    windows (the q80 check); ``"skipgram"`` stores the n masked
    one-substitution variants per window (the q81 check — matching an
    arriving train window against ANY stored key means it differs from
    some eval window in at most one token). Both modes share the exact
    tokenization of their batch twins (``corpus.gram_array`` /
    ``corpus.skipgram_windows+skipgram_keys``), so arrival rows equal
    the batch operators by construction.

    The gram definition, *n*, and *mode* are stamped in a ``_meta``
    marker at creation; reopening with different parameters raises
    instead of silently mixing key spaces."""

    def __init__(
        self, spark: SparkSession, path: str, n: int = 8,
        mode: str = "ngram",
    ) -> None:
        if n < 1:
            raise ValueError("n must be positive")
        if mode not in ("ngram", "skipgram"):
            raise ValueError(f"unknown mode {mode!r}")
        if mode == "skipgram" and n > 32:
            raise ValueError("n > 32 masked variants per window is a mistake")
        self.spark = spark
        self.path = path
        self.n = n
        self.mode = mode
        self._log = CounterLog(spark, path, GRAM_SCHEMA, "EvalGramIndex")
        _claim_stamp(spark, path, "_meta", f"n={n};mode={mode}")

    # -- eval-side maintenance (the small, slowly-changing side) --------

    def _keys(self, docs: DataFrame, text_col: str, *keep) -> DataFrame:
        """(*keep*, gram) rows under this index's mode (``mode_keys``)."""
        return mode_keys(docs, text_col, self.n, self.mode, *keep)

    def _partial(self, eval_docs: DataFrame, text_col: str) -> DataFrame:
        return (
            self._keys(eval_docs, text_col)
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("occ"))
        )

    def append(
        self, eval_docs: DataFrame, text_col: str, batch_id: int = 0
    ) -> None:
        """Add *eval_docs*' gram occurrences under ``batch=<batch_id>``
        (overwrite — re-delivery replaces). O(their grams)."""
        self._log.append(self._partial(eval_docs, text_col), batch_id)

    def retract(
        self,
        eval_docs: DataFrame,
        text_col: str,
        id_col: str = "doc_id",
        retraction_id: int | None = None,
    ) -> None:
        """Withdraw eval documents (a benchmark fixes a leaked split, a
        doc is taken down): the NEGATED gram counts land under
        ``batch=retract<k>`` and cancel exactly — grams shared with
        surviving eval docs keep a positive sum and stay probed.
        At-most-once per *id_col* is ENFORCED via the shared retraction
        ledger; ambiguous-failure retries pass the same *retraction_id*
        (see ``WindowHashIndex.retract``). Text must be the exact
        appended text."""
        self._log.retract(
            self._partial(eval_docs, text_col), eval_docs.select(id_col),
            retraction_id,
        )

    # -- reads -----------------------------------------------------------

    def partials(self) -> DataFrame:
        return self._log.partials()

    def grams(self) -> DataFrame:
        """The CURRENT distinct eval gram set: summed partials with a
        positive total (zero = fully retracted)."""
        return self._log.totals().filter(F.col("occ") > 0).select("gram")

    def contamination_for(
        self,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        min_hits: int = 1,
        eval_small: bool | None = None,
        broadcast_below: int = 2_000_000,
    ) -> DataFrame:
        """Per-doc contamination of *docs* against the CURRENT eval gram
        set — (id, n_windows, n_contaminated, contaminated), the exact
        output contract (and tokenization) of
        ``corpus.ngram_contamination``, so arrival rows are directly
        comparable to the batch operator.

        Same size routing as the batch operator: the gram set
        broadcasts when small, otherwise the probe is a shuffled hash
        join. The routing probe here is a store-side sum over the slim
        (gram, occ) partials — it never touches document text."""
        if eval_small is None:
            # occurrence total >= distinct grams: an upper bound, errs
            # only toward the safe shuffle plan (the q80 probe rule),
            # computed on the store partials — O(index), not O(corpus)
            total = self.partials().agg(
                F.sum(F.greatest("occ", F.lit(0))).alias("__n")
            ).first()["__n"]
            eval_small = (total or 0) <= broadcast_below
        return contamination_against(
            docs, self.grams(), id_col, text_col, self.n, self.mode,
            min_hits, eval_small, broadcast_below,
        )

    def compact(self, coalesce_n: int = 1) -> int:
        """Merge batch dirs into one summed base generation — files AND
        rows bounded at distinct-gram cardinality (see
        ``CounterLog.compact``)."""
        return self._log.compact(coalesce_n)


def start_contamination_stream(
    spark: SparkSession,
    landing_dir: str,
    index: EvalGramIndex,
    checkpoint_dir: str,
    on_stats: Callable[[list, int], None] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_hits: int = 1,
    stats_dir: str | None = None,
):
    """Score arriving ``{<id_col>, <text_col>}`` TRAINING docs against
    the eval gram set as it stands: one contamination row per doc (id /
    n_windows / n_contaminated / contaminated — the q80 contract) to
    ``<stats_dir>/batch=<batch_id>`` (default ``<index>/_stats``), read
    back into ``on_stats(rows, batch_id)`` on opt-in. Delivery follows
    ``epochlog.arrival_stream``.

    Train docs do NOT modify the index (only eval append/retract writes
    it), so there is no id guard: a re-landed doc is scored again. A
    doc scored before an eval change keeps its original verdict (the
    arrival-time answer); re-land it to rescore, or run the batch
    operator for a full-corpus refresh."""
    out_dir = stats_dir or posixpath.join(index.path, "_stats")
    return epochlog.arrival_stream(
        spark, landing_dir, epochlog.doc_schema(id_col, text_col),
        checkpoint_dir, [index.path, out_dir],
        lambda batch, _prior, _bid: index.contamination_for(
            batch, id_col, text_col, min_hits
        ),
        sink=out_dir, on_sink=on_stats,
    )
