"""One reorg event → every derived store forgets the document.

The reference cascades a reorg through its OWN tables in one Postgres
transaction (app/db/block.go:44-58); this engine additionally maintains
DERIVED state — dedup bucket indexes, summed counter stores, ANN
serving indexes — and each has the epoch log's retraction primitive
(``streaming/epochlog``: tombstone ``delete`` on bucket/serving
indexes; ledgered negative partials on summed stores). What was
missing was the composition: the reorg handler that fires them ALL for
one document, under ONE idempotence story, so a crash mid-fan-out is
recoverable without double-cancelling any store.

``retract_document_everywhere`` is that handler. Contract:

* **One retraction_id spans the fan-out.** Every ledgered store
  (``NgramStatsStore``, ``WindowHashIndex``, ``WordCountStore``, …)
  receives the SAME explicit ``retraction_id``; tombstone deletes are
  naturally idempotent. A crash between stores is healed by re-running
  the handler with the SAME id — stores that already retracted treat
  the call as an idempotent retry (same id + same id-set overwrites
  in place), stores that hadn't yet catch up.
* **A second reorg firing for the same doc under a FRESH id is
  rejected** by the first ledgered store it reaches (the shared
  at-most-once guard), with the ledger entry named in the error so an
  operator can distinguish replay from corruption.
* **Same-batch semantics**: the vector leaves the SERVED index in the
  same handler invocation in which the doc's grams leave the counter
  stores — callers invoke it from the point that detects the reorg
  (the publish consumer seeing a known number re-arrive with a new
  hash, or the ingest stream's batch handler), before acknowledging
  the batch.

The handler retracts the content the stores absorbed, not the reorged
replacement: the arrival guard (``epochlog.arrival_stream``) keeps an
id's first arrival, which is what the dedup text store and the embed
vector store hold.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.corpus import _ngram_counts_pandas


def retract_document_everywhere(
    spark: SparkSession,
    doc_id: int,
    text: str | None = None,
    vec_id: int | None = None,
    *,
    retraction_id: int,
    ngram_store=None,
    ngram_n: int = 3,
    dupwin_index=None,
    vocab_store=None,
    dedup_index=None,
    embed_index=None,
    serving_index=None,
) -> None:
    """Fan one document's retraction across every registered store.

    ``retraction_id`` is REQUIRED: the fan-out is only crash-recoverable
    when the retry can present the same id to every ledgered store (an
    auto-assigned id would differ per store per attempt). Callers derive
    it deterministically from the reorg event — e.g. the doc id itself
    when each doc reorgs at most once per store lifetime, or a
    (block_number, reorg_seq) encoding when not.

    Stores are optional; pass the ones this deployment maintains.
    ``text`` is required with any of the counter stores (the negative
    partial is recomputed from the stored content, exactly as the
    stream computed the positive one); ``vec_id`` defaults to
    ``doc_id`` for the vector-side indexes.
    """
    if any((ngram_store, dupwin_index, vocab_store)) and text is None:
        raise ValueError("text is required to retract from counter stores")
    vid = doc_id if vec_id is None else vec_id
    gone = None
    if text is not None:
        gone = spark.createDataFrame(
            [(int(doc_id), text)], "doc_id long, text string"
        )
    # ledgered stores first (they enforce at-most-once and reject a
    # fresh-id replay before any tombstone work happens), then the
    # idempotent tombstones — so a rejected replay changes NOTHING
    if ngram_store is not None:
        ngram_store.retract(
            _ngram_counts_pandas(gone, "text", ngram_n).select(
                "ngram",
                F.col("n_occurrences").alias("occ"),
                F.col("n_docs").alias("docs"),
            ),
            gone.select("doc_id"),
            retraction_id=retraction_id,
        )
    if dupwin_index is not None:
        dupwin_index.retract(
            gone, "doc_id", "text", retraction_id=retraction_id
        )
    if vocab_store is not None:
        vocab_store.retract(gone, "text", retraction_id=retraction_id)
    if dedup_index is not None:
        dedup_index.delete([doc_id])
    if embed_index is not None:
        embed_index.delete([vid])
    if serving_index is not None:
        serving_index.delete([vid])
