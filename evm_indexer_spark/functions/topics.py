"""Positional topic matching (SURVEY P11, F11) and pub/sub filter
predicates (T9/T10) as native Column expressions.

The reference does topic matching in two phases: a GIN-assisted SQL
containment pre-check (``'{t0,t1}' <@ e.topics``, ``app/db/query.go:530-533``)
followed by a Go positional re-check (``DoesItMatch``,
``query.go:473-485``). In Spark the *final* positional semantics collapse
into one native filter — ``element_at(topics, k+1) == v`` conjunction — that
Catalyst evaluates post-scan; no UDF, no second pass.

Semantics replicated exactly:
- topic index k out of range for the event (fewer topics) → no match
  (``query.go:477``: Go indexing would panic; the slice-length check in
  ``subscription.go:84-86`` makes out-of-range match only wildcards).
- matching is case-insensitive (``CheckSimilarity``,
  ``app/pubsub/subscription.go:141-150``) — we normalize lowercase.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def topic_match(topics_col: Column | str, topic_map: dict[int, str]) -> Column:
    """Conjunctive positional predicate: for every (k → v) in *topic_map*,
    ``topics[k] == lower(v)``; events with fewer than k+1 topics fail.

    ``topic_map`` mirrors ``CreateEventTopicMap`` (app/common/common.go:26-48):
    0-based position → topic hash; empty strings are skipped by the builder.
    """
    c = F.col(topics_col) if isinstance(topics_col, str) else topics_col
    pred = F.lit(True)
    for k, v in sorted(topic_map.items()):
        # F.get is 0-based and yields NULL out of bounds regardless of
        # ANSI mode (element_at under ANSI throws, and a size-guard
        # conjunct is not guaranteed to short-circuit in codegen);
        # coalesce makes out-of-range an explicit False so the predicate
        # is a proper boolean column, not just filter-safe.
        pred = pred & F.coalesce(
            F.lower(F.get(c, k)) == F.lit(v.lower()), F.lit(False)
        )
    return pred


def tx_subscription_match(
    from_col: Column | str, to_col: Column | str, want_from: str, want_to: str
) -> Column:
    """Streaming tx filter ``transaction/<from|*>/<to|*>`` (T9).

    Reference: ``DoesMatchWithPublishedTransactionData``
    (app/pubsub/subscription.go:159-199) — ``*`` matches anything
    (including an absent ``to`` for contract creations); address matching
    is case-insensitive.
    """
    f = F.col(from_col) if isinstance(from_col, str) else from_col
    t = F.col(to_col) if isinstance(to_col, str) else to_col
    from_ok = (
        F.lit(True) if want_from == "*" else F.lower(f) == F.lit(want_from.lower())
    )
    if want_to == "*":
        to_ok = F.lit(True)
    else:
        to_ok = F.coalesce(F.lower(t), F.lit("")) == F.lit(want_to.lower())
    return from_ok & to_ok


def event_subscription_match(
    origin_col: Column | str, topics_col: Column | str, pattern: list[str]
) -> Column:
    """Streaming event filter ``event/<contract|*>/<t0|*>/<t1|*>/<t2|*>/<t3|*>`` (T10).

    Reference: ``DoesMatchWithPublishedEventData``
    (app/pubsub/subscription.go:74-124) — position k beyond the event's
    topic count matches only ``*``; all comparisons case-insensitive.
    *pattern* is ``[contract, topic0, topic1, topic2, topic3]``.
    """
    o = F.col(origin_col) if isinstance(origin_col, str) else origin_col
    c = F.col(topics_col) if isinstance(topics_col, str) else topics_col
    contract, *topic_pats = pattern
    pred = (
        F.lit(True) if contract == "*" else F.lower(o) == F.lit(contract.lower())
    )
    for k, pat in enumerate(topic_pats):
        if pat == "*":
            continue
        # F.get: 0-based, NULL out-of-bounds (ANSI-safe) → explicit False
        pred = pred & F.coalesce(
            F.lower(F.get(c, k)) == F.lit(pat.lower()), F.lit(False)
        )
    return pred
