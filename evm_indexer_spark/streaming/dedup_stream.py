"""Dedup-on-arrival: a persisted MinHash bucket index plus a streaming
pipeline that reports near-duplicate pairs as documents land.

The reference engine has no corpus operators at all (its streams carry
blocks; SURVEY §2.8) — this extends the training-data side of the house
the same way ``operators/dedup`` extends the batch side: when the
historical corpus is far too large to re-sign per batch (the 100 TB
case), dedup must be INCREMENTAL — each arriving batch is signed once,
joined against the persisted bucket index, exactly verified, and its
own bucket rows appended for future batches.

Scale shape per batch: O(batch) signing (narrow), one slim bucket
equi-join against the index (partition-pruned by parquet min/max on the
uniform ``bh`` key at real scale), verification bounded by collisions.
Nothing rescans the corpus; the index grows by O(batch × bands) rows
between ``compact()`` calls.

Idempotence: bucket rows are written to ``batch=<batch_id>`` subdirs
with overwrite — Structured Streaming re-delivers a failed epoch under
the SAME epoch id, so a crashed write is replaced, never doubled (the
same contract ``streaming/txstore`` uses for block upserts). Pair output
goes through the caller's sink callback with the STORE batch id
(``_stream_batch_base + epoch``) so the sink can apply the same keying
as the ``batch=<id>`` dirs — stable across checkpoint lineages.

All filesystem control flow (marker, listing, compaction renames) goes
through the Hadoop FileSystem API, not ``os`` — the index must work on
whatever filesystem Spark writes to (HDFS, S3A, local), and rename-
based publication is what makes compaction crash-safe there.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators import dedup

BUCKET_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("band", IntegerType(), False),
        StructField("bh", LongType(), False),
    ]
)


def _hadoop(spark: SparkSession, path: str):
    """(FileSystem, Path) for *path* on whatever filesystem owns it."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _list_batch_dirs(spark: SparkSession, root: str) -> list[str]:
    """Child ``batch=*`` directories of *root* (absolute URIs), [] if
    the root doesn't exist yet."""
    fs, jroot = _hadoop(spark, root)
    if not fs.exists(jroot):
        return []
    out = []
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            out.append(st.getPath().toString())
    return out


def _foldable_dirs(dirs: list[str]) -> list[str]:
    """*dirs* minus the HIGHEST-epoch non-base batch dir.

    For stores whose partials are SUMMED on read, folding the latest
    epoch is unsafe even sequentially: under the in-order foreachBatch
    contract the latest append is the only one that can belong to a
    not-yet-checkpointed epoch, and if compaction folds it into the
    base before the stream redelivers that epoch, the redelivered
    batch is scored against its own first-attempt rows (the
    ``exclude_epoch`` read can no longer see them inside the base) and
    the store keeps both copies forever. Keeping one un-folded dir
    costs one extra file listing entry and closes the window."""
    newest, key = None, -1
    for d in dirs:
        name = posixpath.basename(d)
        if name.startswith("batch=") and not name.startswith("batch=base"):
            try:
                epoch = int(name[len("batch="):])
            except ValueError:
                continue
            if epoch > key:
                newest, key = d, epoch
    return [d for d in dirs if d != newest]


def _fold_batch_dirs(
    spark: SparkSession,
    root: str,
    rows: DataFrame,
    old: list[str],
    coalesce_n: int,
) -> int:
    """Shared compaction tail for every batch-dir store (bucket
    indexes, partial-stat stores): rewrite *rows* into a hidden
    ``_compacting`` dir (hidden names are excluded from read listings,
    so readers never see a half-written base), atomically rename it to
    the next ``batch=base<G>`` generation, then delete the *old*
    source dirs. Returns ``len(old)``. Crash-safety and concurrency
    contracts are the CALLER's docstring — what a leftover duplicate
    means differs per store (harmless for bucket rows, corrupting for
    summed partials, hence each compact() documents its own read
    snapshot)."""
    fs, _ = _hadoop(spark, root)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    gen = 0
    for d in old:
        name = posixpath.basename(d)
        if name.startswith("batch=base"):
            try:
                gen = max(gen, int(name[len("batch=base"):]) + 1)
            except ValueError:
                pass
    tmp = posixpath.join(root, "_compacting")
    rows.coalesce(max(1, coalesce_n)).write.mode("overwrite").parquet(tmp)
    dest = Path(posixpath.join(root, f"batch=base{gen}"))
    if not fs.rename(Path(tmp), dest):
        raise OSError(f"compaction rename to {dest} failed")
    for d in old:
        fs.delete(Path(d), True)
    return len(old)


def _claim_stamp(spark: SparkSession, root: str, marker: str, stamp: str) -> None:
    """Create-or-validate an immutable parameter stamp under *root*:
    atomic ``create(overwrite=False)`` claims it; a lost race (or an
    existing marker) validates against what was written and raises
    ValueError on mismatch. Non-race create failures surface as-is."""
    fs, jroot = _hadoop(spark, root)
    fs.mkdirs(jroot)
    jmarker = spark._jvm.org.apache.hadoop.fs.Path(
        posixpath.join(root, marker)
    )
    if not fs.exists(jmarker):
        try:
            out = fs.create(jmarker, False)  # atomic create-if-absent
            try:
                out.write(bytearray(stamp.encode()))
            finally:
                out.close()
        except Exception as exc:
            # only a lost creation race is recoverable; any other
            # failure (permissions, transient FS error) must not be
            # masked as a parameter-mismatch error
            if not _is_already_exists(exc):
                raise
    prev = _read_marker(fs, jmarker)
    if prev != stamp:
        raise ValueError(
            f"index at {root} was built with parameters {prev}, "
            f"reopened with {stamp} — rows would never collide"
        )


TOMBSTONE_SCHEMA = StructType([StructField("id", LongType(), False)])


def _tombstones_df(
    spark: SparkSession, tomb_dir: str, schema: StructType | None = None
) -> DataFrame | None:
    """Deleted ids under *tomb_dir*, ``None`` when there are none — the
    None fast path keeps undeleted indexes at zero extra plan nodes
    (one driver-side listing aside). *schema* overrides the default
    long-id layout for stores whose id column is typed differently
    (IvfServingIndex reads it from its stored row schema)."""
    dirs = _list_batch_dirs(spark, tomb_dir)
    if not dirs:
        return None
    return (
        spark.read.schema(schema or TOMBSTONE_SCHEMA)
        .option("basePath", tomb_dir)
        .parquet(*dirs)
        .select("id")
    )


def _append_tombstones(
    spark: SparkSession,
    tomb_dir: str,
    ids,
    batch_id: int | None = None,
    schema: StructType | None = None,
) -> None:
    """Write an id tombstone batch (iterable or one-column DataFrame)
    under ``<tomb_dir>/batch=<id>`` with the family's overwrite
    convergence contract; *batch_id* defaults to one past the current
    tombstone high-water mark."""
    schema = schema or TOMBSTONE_SCHEMA
    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame([(i,) for i in ids], schema)
    else:
        ids = ids.select(
            F.col(ids.columns[0]).cast(schema["id"].dataType).alias("id")
        )
    if batch_id is None:
        hi = -1
        for d in _list_batch_dirs(spark, tomb_dir):
            name = posixpath.basename(d)[len("batch="):]
            if name.isdigit():
                hi = max(hi, int(name))
        batch_id = hi + 1
    ids.select("id").distinct().coalesce(1).write.mode("overwrite").parquet(
        posixpath.join(tomb_dir, f"batch={batch_id}")
    )


def _retract_dir(spark: SparkSession, root: str) -> str:
    """Next ``batch=retract<k>`` dir under *root* — the summed-partial
    stores' retraction namespace. Distinct from the numeric epoch ids
    (a running stream's NEXT epoch can never overwrite a retraction)
    and from ``batch=base<G>`` compaction generations; every batch-dir
    reader picks ``batch=*`` up by glob and every numeric parser
    already skips non-numeric names."""
    hi = -1
    for d in _list_batch_dirs(spark, root):
        name = posixpath.basename(d)[len("batch="):]
        if name.startswith("retract") and name[len("retract"):].isdigit():
            hi = max(hi, int(name[len("retract"):]))
    return posixpath.join(root, f"batch=retract{hi + 1}")


def _retraction_guard(
    spark: SparkSession,
    root: str,
    ids: DataFrame,
    retraction_id: int | None = None,
) -> str:
    """ENFORCE the at-most-once retraction contract for the
    summed-counter stores, and return the ``batch=retract<k>`` dir the
    negated partial must be written to.

    Before this guard the contract was documented but unenforced: a
    second ``retract`` of the same doc landed a second negative partial
    and the folded counters silently went negative/wrong. The guard
    keeps a RETRACTION LEDGER — ``<root>/_retracted/retract<k>/`` parquet
    dirs of the retracted ids (hidden ``_`` prefix: invisible to every
    partial reader) — and:

    * rejects a retraction containing any id already present in a
      PRIOR ledger entry (loud ``ValueError``, nothing written);
    * with an explicit *retraction_id*, retries after an ambiguous
      failure OVERWRITE the same ``retract<k>``/ledger pair instead of
      accumulating a second negated partial — the same idempotence key
      ``append`` and ``delete`` already take. Re-using an id for a
      DIFFERENT id-set is rejected;
    * with ``retraction_id=None`` a fresh k is auto-assigned (the
      pre-guard behavior); the ledger still catches a double retract,
      so only ambiguous-failure RETRIES need the explicit id.

    Write order is ledger-then-partial (the caller writes the partial):
    a crash between the two leaves the doc ledgered but uncancelled,
    and the retry path with the SAME id rewrites both; a retry under a
    DIFFERENT id errors loudly rather than guessing. O(retracted ids)
    storage and one small join per retraction — retraction is the rare
    path. ``compact`` additionally asserts folded sums stay
    non-negative as the backstop for callers that bypass the ids
    (see each store's compact)."""
    if retraction_id is not None and int(retraction_id) < 0:
        # a negative id would name a dir the retract<k> parser skips,
        # silently breaking auto-assignment's collision avoidance
        raise ValueError("retraction_id must be a non-negative integer")
    ids = ids.select(
        F.col(ids.columns[0]).cast("string").alias("id")
    ).distinct()
    ledger_root = posixpath.join(root, "_retracted")
    fs, jledger = _hadoop(spark, ledger_root)
    own_name = None if retraction_id is None else f"retract{int(retraction_id)}"
    prior_dirs, own_dir = [], None
    if fs.exists(jledger):
        for st in fs.listStatus(jledger):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith("retract")):
                continue
            if name == own_name:
                own_dir = st.getPath().toString()
            else:
                prior_dirs.append(st.getPath().toString())
    if prior_dirs:
        # tag every prior ledger row with the entry it came from so a
        # rejection can NAME the retraction_id holding the dup — the
        # recovery key for an ambiguous failure on the auto-assigned
        # path (the caller retries with that id to make it idempotent)
        prior = spark.read.schema("id string").parquet(*prior_dirs).withColumn(
            "prior_entry",
            F.element_at(F.split(F.input_file_name(), "/_retracted/"), -1),
        ).withColumn(
            "prior_entry", F.split(F.col("prior_entry"), "/").getItem(0)
        )
        dup = ids.join(prior, "id", "inner").take(5)
        if dup:
            pairs = sorted((r["id"], r["prior_entry"]) for r in dup)
            raise ValueError(
                "retraction rejected: id(s) already retracted "
                f"{pairs} (id, ledger entry) — a doc's contribution "
                "cancels at most once. If this is a RETRY of an "
                "ambiguous failure, re-run with "
                f"retraction_id={pairs[0][1][len('retract'):]} (the "
                "ledger entry shown) to make it idempotent"
            )
    if own_dir is not None:
        # same retraction_id re-used: legal only as an exact retry
        prev = spark.read.schema("id string").parquet(own_dir)
        diff = ids.join(prev, "id", "full_outer").filter(
            ids["id"].isNull() | prev["id"].isNull()
        )
        if diff.take(1):
            raise ValueError(
                f"retraction_id {retraction_id} was already used for a "
                "different id-set — pick a fresh id (retries must carry "
                "the exact ids of the failed attempt)"
            )
    if retraction_id is None:
        target = _retract_dir(spark, root)
        k = posixpath.basename(target)[len("batch=retract"):]
    else:
        k = str(int(retraction_id))
        target = posixpath.join(root, f"batch=retract{k}")
        if own_dir is None:
            # UNLEDGERED pre-existing target: a batch=retract<k> dir
            # written by pre-ledger code (or a bypassing caller). An
            # explicit id may only RETRY a ledgered retraction —
            # overwriting this dir would silently un-cancel whatever
            # the old negated partial cancelled. Refuse; the caller
            # either picks a fresh id or backfills the ledger by hand.
            _, jtarget = _hadoop(spark, target)
            if fs.exists(jtarget):
                raise ValueError(
                    f"retraction_id {k} names an existing {target} with "
                    "no matching ledger entry (written by pre-ledger "
                    "code?) — explicit ids can only retry LEDGERED "
                    "retractions; use retraction_id=None for a fresh "
                    "retraction, or backfill the ledger entry for "
                    "retract" f"{k} if that dir is a real retraction"
                )
    ids.coalesce(1).write.mode("overwrite").parquet(
        posixpath.join(ledger_root, f"retract{k}")
    )
    return target


def _assert_counters_nonnegative(
    totals: DataFrame, cols: list[str], store_desc: str
) -> None:
    """Compaction-time backstop for the retraction contract: under
    at-most-once retraction every summed counter is >= 0 (a retraction
    only ever cancels a prior append), so a negative total proves a
    double retract (or a retract of never-appended content). Raises
    instead of freezing the corruption into the folded base. Computed
    over ALL partials including the un-foldable newest epoch — a
    retraction legitimately cancelling the newest epoch's rows must
    not trip the check. *totals* is the already-grouped sum (one row
    per key, summed counter columns *cols*)."""
    cond = None
    for c in cols:
        t = F.col(c) < 0
        cond = t if cond is None else (cond | t)
    bad = totals.filter(cond).take(5)
    if bad:
        raise ValueError(
            f"{store_desc}: negative folded counter(s) {[tuple(r) for r in bad]}"
            " — the at-most-once retraction contract was violated; "
            "refusing to compact the corruption into the base"
        )


def _stream_batch_base(
    spark: SparkSession, checkpoint_dir: str, roots: list[str]
) -> int:
    """Lineage-stable batch-id base for the arrival streams.

    Structured Streaming epoch ids restart at 0 whenever a stream is
    pointed at a FRESH checkpoint dir, so deriving store batch ids
    from the epoch alone silently overwrites batches absorbed under an
    earlier lineage (the ``batch=0`` clobber). The first start under a
    checkpoint computes ``base = 1 + max numeric batch id`` already
    present across *roots* (0 when none — the fresh-store fast path
    keeps batch ids equal to epoch ids, exactly the historical
    layout) and records it in a ``__batch_base__`` marker INSIDE the
    checkpoint dir; restarts under the SAME checkpoint re-read the
    marker, so a re-delivered epoch still overwrites its own batch
    dirs (the convergence contract), while a fresh checkpoint starts
    strictly above everything already on disk. Compacted
    ``batch=base<G>`` generations are ignored: folding deletes the
    numeric dirs it absorbed, so new numeric ids can never collide
    with a base generation. Atomic create-if-absent; a lost race reads
    the winner's value (both computed the same base anyway — the
    stores are single-writer by contract).

    A checkpoint that already holds Spark offset logs but NO marker was
    created by pre-marker code: its lineage has been writing store
    batches keyed by the raw epoch id all along, so the only base that
    keeps a re-delivered in-flight epoch overwriting its own first
    attempt (instead of re-landing under a shifted id and double-
    counting in summed partial stores) is 0. The high-water path is
    reserved for genuinely fresh checkpoints."""
    jvm = spark._jvm
    marker = posixpath.join(checkpoint_dir, "__batch_base__")
    fs, jmarker = _hadoop(spark, marker)
    if fs.exists(jmarker):
        return int(_read_marker(fs, jmarker))
    if fs.exists(
        jvm.org.apache.hadoop.fs.Path(
            posixpath.join(checkpoint_dir, "offsets")
        )
    ):
        base = 0  # same-lineage resume of a pre-marker checkpoint
    else:
        base = _high_water_base(spark, roots)
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(checkpoint_dir))
    # CRASH-ATOMIC + RACE-ATOMIC publication. Two hazards, two
    # mechanisms:
    #   1. crash mid-write → the value goes to a hidden temp file and
    #      is RENAMED onto the marker path, so the marker either
    #      doesn't exist or holds a complete value, never a truncated
    #      one;
    #   2. two concurrent publishers → rename-onto-existing silently
    #      REPLACES on local FS (POSIX rename(2)), so the rename alone
    #      cannot arbitrate. A CLAIM file created with a genuinely
    #      exclusive primitive (java.io.File.createNewFile → O_EXCL on
    #      local paths; namenode-atomic create(path, overwrite=false)
    #      on HDFS) gates the rename: only the claim winner ever
    #      renames onto the marker, so a published marker can no
    #      longer be replaced by a racer (round-13 ADVICE — the
    #      equal-bases invariant is now enforced, not assumed).
    # A loser waits briefly for the winner's marker; if it never lands
    # (the winner crashed inside the claim→rename window — under the
    # single-writer contract that "loser" is the same writer's own
    # restart), it completes the publish itself. Both computed the
    # identical base (same roots), pinned by
    # test_marker_publication_race_equal_bases.
    # The marker is written strictly BEFORE stream start (offsets/
    # creation) — the ordering invariant
    # test_marker_exists_before_first_epoch_commits pins.
    import time
    import uuid

    claim = posixpath.join(checkpoint_dir, ".__batch_base__.claim")
    if not _exclusive_create(jvm, fs, claim):
        for _ in range(50):  # ~5s: the claim holder is publishing now
            if fs.exists(jmarker):
                return int(_read_marker(fs, jmarker))
            time.sleep(0.1)
        if fs.exists(jmarker):
            return int(_read_marker(fs, jmarker))
        # stale claim: holder crashed before renaming — complete it
    tmp = posixpath.join(
        checkpoint_dir, f".__batch_base__.tmp.{uuid.uuid4().hex}"
    )
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(str(base).encode()))
    finally:
        out.close()
    if fs.exists(jmarker):
        # published while we wrote the temp (stale-claim completion
        # racing a slow-but-alive holder): drop the temp, adopt it
        fs.delete(jtmp, False)
    elif not fs.rename(jtmp, jmarker):
        # HDFS-semantics race loss: drop the temp, adopt the winner
        fs.delete(jtmp, False)
    return int(_read_marker(fs, jmarker))


def _exclusive_create(jvm, fs, path: str) -> bool:
    """Atomically create *path* iff absent; True means THIS caller
    created it. Local paths use ``java.io.File.createNewFile`` —
    O_CREAT|O_EXCL, a real kernel-level exclusive create — because
    Hadoop's ``FileSystem.createNewFile``/``create(overwrite=false)``
    on RawLocalFileSystem is exists()-then-create (check-then-act, the
    exact race this guards against). Non-local schemes use
    ``create(path, overwrite=false)``, which HDFS arbitrates atomically
    at the namenode.

    Locality is decided from the FILESYSTEM, not the raw path string: a
    scheme-less path resolves against ``fs.defaultFS``, so on an
    HDFS-default deployment it is NOT local — classifying it by the
    path's (absent) URI scheme would create the claim on each driver's
    local disk, every racer would win its own claim, and the O_EXCL
    gate would silently degrade to check-then-act (round-15 ADVICE).
    ``fs.makeQualified`` pins both the scheme and the working-directory
    resolution the filesystem itself would use."""
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    qualified = fs.makeQualified(jpath)
    if qualified.toUri().getScheme() == "file":
        f = jvm.java.io.File(qualified.toUri().getPath())
        parent = f.getParentFile()
        if parent is not None:
            parent.mkdirs()
        return bool(f.createNewFile())
    try:
        fs.create(jpath, False).close()
        return True
    except Exception:
        return False


def _high_water_base(spark: SparkSession, roots: list[str]) -> int:
    """``1 + max`` numeric ``batch=`` id across *roots* (0 when none —
    the fresh-store fast path keeps batch ids equal to epoch ids)."""
    hi = -1
    for root in roots:
        for d in _list_batch_dirs(spark, root):
            name = posixpath.basename(d)[len("batch="):]
            try:
                hi = max(hi, int(name))
            except ValueError:  # batch=base<G> compacted generations
                continue
    return hi + 1


def _is_already_exists(exc: Exception) -> bool:
    """True when a py4j-wrapped Hadoop exception means 'marker file
    already exists' — the only recoverable create(overwrite=False)
    failure (the race loser's branch)."""
    java_exc = getattr(exc, "java_exception", None)
    name = java_exc.getClass().getName() if java_exc else type(exc).__name__
    msg = str(exc)
    return "AlreadyExists" in name or "already exists" in msg.lower()


def _read_small(fs, jpath) -> str:
    stream = fs.open(jpath)
    try:
        buf = bytearray()
        while True:
            b = stream.read()
            if b < 0:
                break
            buf.append(b)
        return buf.decode()
    finally:
        stream.close()


def _read_marker(fs, jpath) -> str:
    """Read a stamp, retrying briefly: a racing loser can observe the
    winner's marker between create() and close() — visible but empty.
    LocalFileSystem flushes on close, object stores publish atomically;
    either way a short retry converges."""
    import time

    for _ in range(50):
        try:
            stamp = _read_small(fs, jpath)
        except Exception:
            stamp = ""
        if stamp:
            return stamp
        time.sleep(0.1)
    raise RuntimeError(
        f"marker at {jpath} unreadable or empty after 5s of retries — "
        "the writer never published its stamp (crashed between create "
        "and write, or the filesystem is not read-after-close "
        "consistent). Inspect the filesystem; do NOT delete a "
        "__batch_base__ marker on a lineage that has already run — "
        "its offset logs would pin the rebuilt base to 0 regardless "
        "of the value in use, re-keying future batches"
    )


class MinHashBucketIndex:
    """Parquet-backed (id, band, bh) LSH index under ``path``.

    Banding parameters are fixed at construction and MUST stay constant
    for the index lifetime — rows from different configurations occupy
    disjoint hash spaces and would silently never collide. A marker file
    records them; reopening with different values raises. Marker
    creation uses ``FileSystem.create(overwrite=False)`` — on a real
    filesystem that's an atomic claim, so two concurrent constructors
    race to one writer and the loser validates against what was
    written. Size the tiers with ``dedup.banding_for_corpus`` so batch
    jobs and this index can never disagree.
    """

    _MARKER = "_banding"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_hashes: int = 16,
        bands: int = 8,
        shingle_n: int = 3,
        strategy: str = "auto",
    ) -> None:
        self.spark = spark
        self.path = path
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        if strategy not in ("auto", "pandas", "expr"):
            raise ValueError(
                f"strategy must be one of auto/pandas/expr, got {strategy!r}"
            )
        # resolve "auto" so the persisted stamp is concrete: the two
        # signing strategies use different hash families, so an index
        # must be written AND queried with one of them forever
        self.strategy = "pandas" if strategy == "pandas" else "expr"
        # underscore prefix: excluded from buckets()' recursive listing
        self._tombstones_dir = posixpath.join(path, "_tombstones")
        _claim_stamp(
            spark,
            path,
            self._MARKER,
            f"{num_hashes},{bands},{shingle_n},{self.strategy}",
        )

    # kept as a staticmethod alias: external callers/tests probe the
    # race-vs-failure classification through the class surface
    _is_already_exists = staticmethod(_is_already_exists)

    def buckets(self) -> DataFrame:
        """All PHYSICAL bucket rows, tombstoned ids included (explicit
        schema: empty/partial batch dirs must not poison inference).
        Serving paths read ``live_buckets()``."""
        return (
            self.spark.read.schema(BUCKET_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(self.path)
        )

    def live_buckets(self) -> DataFrame:
        """Bucket rows minus deleted ids — what every candidate join
        consumes. Tombstone volume is O(deletes since compact) —
        reorg/takedown-sized, always broadcastable."""
        tombs = self.tombstones()
        if tombs is None:
            return self.buckets()
        return self.buckets().join(F.broadcast(tombs), "id", "left_anti")

    def tombstones(self) -> DataFrame | None:
        """Deleted ids, ``None`` when the index has none."""
        return _tombstones_df(self.spark, self._tombstones_dir)

    def delete(self, ids, batch_id: int | None = None) -> None:
        """Tombstone *ids* (iterable or one-column DataFrame): they
        stop producing candidate pairs immediately (every serving join
        reads ``live_buckets()``); physical bucket rows remain until
        ``compact()`` folds them out. This is the retraction path a
        training corpus needs for reorged documents and right-to-be-
        forgotten deletes — O(deletes) now, physical at maintenance.

        A delete is TERMINAL until compact: the arrival streams' text
        store still lists the id, so a re-arrival is dropped by the
        re-arrival guard. delete → compact (index) → retire the text
        batch → re-land is the resurrection order."""
        _append_tombstones(self.spark, self._tombstones_dir, ids, batch_id)

    def append(
        self, docs: DataFrame, id_col: str, text_col: str, batch_id: int = 0
    ) -> None:
        """Sign *docs* and persist their bucket rows under
        ``batch=<batch_id>`` (overwrite — re-delivery of the same epoch
        replaces, never duplicates)."""
        rows = dedup.minhash_banded(
            docs, id_col, text_col, self.num_hashes, self.bands,
            self.shingle_n, self.strategy,
        )
        rows.write.mode("overwrite").parquet(
            posixpath.join(self.path, f"batch={batch_id}")
        )

    def compact(self) -> int:
        """Fold every ``batch=*`` directory into one base generation.

        A year-long stream appends one directory (and its part files)
        per epoch; the bucket read then pays file-listing and
        per-file-open costs linear in stream AGE rather than index
        size — the same small-file problem the block store's
        merge-on-read compaction solves, solved the same way:

        1. rewrite the current rows into a hidden ``_compacting`` dir
           (hidden names are excluded from ``buckets()`` listings, so
           readers never see a half-written base);
        2. atomically rename it to ``batch=base<G>`` — publication;
        3. delete the folded source dirs.

        A crash between 2 and 3 leaves duplicate bucket rows, which are
        harmless: candidate pairs are de-duplicated and verification is
        exact, and the next ``compact()`` folds the leftovers away.
        Single concurrent writer assumed (the streaming foreachBatch
        contract); run it from the maintenance cadence, not per epoch.
        Returns the number of directories folded.

        Tombstones fold here too: the rewrite keeps LIVE rows only and
        clears the tombstone dirs afterwards (making deletes physical).
        Every crash point stays serving-correct: un-deleted source dirs
        still carry tombstoned rows, but the tombstones that mask them
        are removed only after the sources are gone."""
        old = _list_batch_dirs(self.spark, self.path)
        # SNAPSHOT the tombstone dirs before any fold work: a delete()
        # landing while the fold job runs was not applied to the rows
        # being rewritten, so clearing it here would silently UNDO the
        # retraction — only the dirs this fold actually consumed are
        # safe to remove (the late one survives for the next compact)
        tomb_dirs = _list_batch_dirs(self.spark, self._tombstones_dir)
        if not old or (len(old) <= 1 and not tomb_dirs):
            return 0
        # the write job lists its input files at planning time, after
        # the `old` snapshot — an epoch landing mid-compaction is read
        # into the base AND survives in its own dir (duplicate rows,
        # harmless as above), never lost
        folded = _fold_batch_dirs(
            self.spark, self.path, self.live_buckets(), old, self.bands
        )
        fs, _ = _hadoop(self.spark, self._tombstones_dir)
        Path = self.spark._jvm.org.apache.hadoop.fs.Path
        for d in tomb_dirs:
            fs.delete(Path(d), True)
        return folded

    def pairs_for(
        self,
        new_docs: DataFrame,
        corpus_docs: DataFrame,
        id_col: str,
        text_col: str,
        jaccard_threshold: float = 0.5,
    ) -> DataFrame:
        """Near-dup pairs involving *new_docs*: vs the index + within
        the batch, exactly verified against *corpus_docs* text.
        *new_docs* ids must not already be indexed (the
        ``incremental_minhash_pairs`` precondition) — the streaming
        wrapper enforces this with an arrival anti-join. Deleted ids
        never produce candidates (the join reads ``live_buckets()``)."""
        return dedup.incremental_minhash_pairs(
            new_docs,
            self.live_buckets(),
            corpus_docs,
            id_col,
            text_col,
            self.num_hashes,
            self.bands,
            self.shingle_n,
            jaccard_threshold,
            self.strategy,
        )


def start_dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    index: MinHashBucketIndex,
    checkpoint_dir: str,
    on_pairs: Callable[[list, int], None] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    seen_text_dir: str | None = None,
    assume_new_ids: bool = False,
    pairs_dir: str | None = None,
):
    """Stream newline-JSON ``{<id_col>, <text_col>}`` docs from
    *landing_dir*; per micro-batch: write near-dup pairs
    (new-vs-corpus + new-vs-new) to ``<pairs_dir>/batch=<batch_id>``
    (default ``<index>/_pairs``), then append the batch to the index
    and to the text store future verifications read from.

    Pair volume is O(batch near-dups) — normally tiny, but UNBOUNDED
    when a batch is mostly duplicates (a crawler replay, a mirror
    dump), so the default verdict path is an executor-side parquet
    sink, never a driver collect. ``on_pairs(pairs, batch_id)`` is the
    opt-in for bounded batches: when given, the epoch's WRITTEN pairs
    are read back and collected (one computation, the sink stays the
    source of truth; epoch re-delivery overwrites its own batch dir,
    so the sink converges — callback side effects are the caller's to
    idempotize, as before). The callback id is the STORE batch id
    (``_stream_batch_base + epoch``), i.e. the ``batch=<id>`` dir the
    pairs were written to — callers keying side effects by it stay
    collision-free across checkpoint lineages.

    An id that re-arrives in a LATER file (not an epoch re-delivery)
    would violate the index precondition — its buckets and text would
    land twice and verification would merge shingles across both text
    versions. The stream therefore anti-joins each batch against the
    ids already in the text store (epoch re-deliveries are exempt: the
    store read excludes the current epoch's own directory, so a crashed
    epoch reprocesses in full). The guard costs one slim id-column scan
    of the store per batch; sources that guarantee at-most-once ids can
    skip it with ``assume_new_ids=True``.

    The text store (``seen_text_dir``, default ``<index>/_text``) uses
    the same batch-keyed overwrite as the bucket rows, so a re-delivered
    epoch converges instead of duplicating. ``availableNow`` + the same
    checkpoint dir resumes across restarts (classic incremental fill).
    Store batch ids are ``_stream_batch_base + epoch``, so a FRESH
    checkpoint over already-filled stores starts above the existing
    batches instead of clobbering ``batch=0``.
    """
    text_dir = seen_text_dir or posixpath.join(index.path, "_text")
    out_dir = pairs_dir or posixpath.join(index.path, "_pairs")
    base = _stream_batch_base(
        spark, checkpoint_dir, [index.path, text_dir, out_dir]
    )
    doc_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField(text_col, StringType(), True),
        ]
    )

    def _seen_text(exclude_epoch: int | None = None) -> DataFrame:
        dirs = [
            d
            for d in _list_batch_dirs(spark, text_dir)
            if exclude_epoch is None
            or posixpath.basename(d) != f"batch={exclude_epoch}"
        ]
        if not dirs:
            return spark.createDataFrame([], doc_schema)
        return spark.read.schema(doc_schema).parquet(*dirs)

    def _process(batch: DataFrame, epoch_id: int) -> None:
        bid = base + epoch_id
        batch = batch.dropDuplicates([id_col])
        prior = _seen_text(exclude_epoch=bid)
        if not assume_new_ids:
            batch = batch.join(prior.select(id_col), id_col, "left_anti")
        if not batch.take(1):
            return
        corpus = prior.unionByName(batch.select(id_col, text_col))
        pairs = index.pairs_for(
            batch, corpus, id_col, text_col, jaccard_threshold
        )
        epoch_dir = posixpath.join(out_dir, f"batch={bid}")
        pair_schema = pairs.schema
        pairs.write.mode("overwrite").parquet(epoch_dir)
        if on_pairs is not None:
            rows = spark.read.schema(pair_schema).parquet(epoch_dir).collect()
            on_pairs([r.asDict() for r in rows], bid)
        index.append(batch, id_col, text_col, batch_id=bid)
        batch.select(id_col, text_col).write.mode("overwrite").parquet(
            posixpath.join(text_dir, f"batch={bid}")
        )

    stream = (
        spark.readStream.schema(doc_schema)
        .json(landing_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    return stream.start()
