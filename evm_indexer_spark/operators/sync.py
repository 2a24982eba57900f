"""Sync-state operators (SURVEY §2.3 J6, §2.8 T4/T7).

The reference repairs gaps by diffing the expected number range against
present numbers — a Go binary search per candidate
(``FindMissingBlocksInRange``, ``app/block/syncer.go:21-37``). On Spark the
same computation is a single distributed anti-join: ``spark.range`` is a
zero-IO virtual table, the probe side carries only the 8-byte ``number``
column, and at 100 TB the join stays shuffle-free when the expected range
is guardrail-bounded (broadcast) or falls back to a sort-merge join on a
pre-sorted numeric range when scanning the whole chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def find_missing_blocks_in_range(
    spark: SparkSession, blocks: DataFrame, frm: int, to: int
) -> DataFrame:
    """Expected [frm, to] minus present numbers — syncer.go:21-37 (J6).

    Returns one ``number`` column, ascending.
    """
    expected = spark.range(frm, to + 1).select(F.col("id").alias("number"))
    present = blocks.select("number").filter(F.col("number").between(frm, to))
    return expected.join(present, "number", "left_anti").orderBy("number")


class FibonacciBackoff:
    """Retry pacing for failed block fetches (T4).

    Replicates ``queue.go:30-56``: the delay advances to the next
    Fibonacci number by golden-ratio multiply-and-round, modulo-capped
    at 3600 s, resets to 1 s on success, and a block may be attempted
    once its waiting phase has elapsed. Clock is injected for testing.

    In the Spark engine this paces the *driver-side* refetch scheduler
    that feeds repair batches (T7); task-level retries inside a job stay
    with Spark's own retry policy.
    """

    GOLDEN = (1.0 + 5.0**0.5) / 2.0
    CAP_SECONDS = 3600

    def __init__(self, now=None) -> None:
        import time as _time

        self._now = now or (lambda: _time.time())
        self.delay = 1.0
        self.last_attempted = float("-inf")

    def set_delay(self) -> None:
        """Advance to the next Fibonacci number (queue.go:33-35)."""
        self.delay = float(int(round(self.delay * self.GOLDEN)) % self.CAP_SECONDS)

    def reset_delay(self) -> None:
        self.delay = 1.0

    def set_last_attempted(self) -> None:
        self.last_attempted = self._now()

    def can_attempt(self) -> bool:
        """True once the waiting phase has elapsed (queue.go:50-56)."""
        return self._now() > self.last_attempted + self.delay
