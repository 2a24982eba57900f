"""The epoch log: the one on-disk protocol every arrival index shares.

The reference gets crash safety from one Postgres transaction per
block; the arrival indexes (MinHash and embedding buckets, window-hash,
word and n-gram counters, eval grams, IVF serving rows) get it from
this layout, so its crash semantics are written — and proven — once.
Under a log root:

* ``batch=<id>`` — one dir per store batch id (stream epoch plus the
  lineage base from ``_stream_batch_base``), written with overwrite:
  Structured Streaming re-delivers a failed epoch under the SAME id, so
  a crashed write is replaced, never doubled;
* ``batch=retract<k>`` — a summed log's negated partials, each
  ledgered under ``_retracted/retract<k>`` (``_retraction_guard``); a
  fold marks the ledger entry of every ``retract<k>`` it consumes with
  a ``_folded`` file before it publishes;
* ``batch=base<G>`` — compaction generation G. ``_fold_batch_dirs``
  writes the folded rows into hidden ``_compacting`` together with a
  ``_folded`` record naming the dirs it consumed, and ONE rename
  publishes both. ``read`` skips every dir a published record names,
  so a crash before those dirs are deleted never exposes a row twice;
  the next compaction deletes them, then the record;
* ``_``-prefixed entries (parameter stamps, ledgers, tombstones, a
  stream's side stores) are invisible to ``read``.

Two log kinds sit on it. ``CounterLog`` is a summed-counter log:
partials SUM on read, a retraction appends a negated partial, and
compaction merges a snapshot into the base. Row logs (bucket and
serving indexes) mask deletes with id tombstones on read and fold them
out in ``compact_tombstoned``.

Every arrival index is fed by one driver, ``arrival_stream``; its
docstring is the delivery contract all seven ``start_*_stream``
functions share.

All filesystem control flow (marker, listing, compaction renames) goes
through the Hadoop FileSystem API, not ``os`` — the logs must work on
whatever filesystem Spark writes to (HDFS, S3A, local), and rename-
based publication is what makes compaction crash-safe there.
"""

from __future__ import annotations

import operator
import posixpath
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType


def _empty(spark: SparkSession, schema) -> DataFrame:
    """An empty frame that costs nothing to plan over. ``limit(0)``
    lets the optimizer replace it with an empty local relation, so the
    joins and unions built over an empty log fold away and actions over
    it schedule no job (a frame built from an empty Python list runs
    one Python task per default-parallelism slice)."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema).limit(0)


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


def batch_dirs(spark: SparkSession, root: str, retire: bool = False) -> list[str]:
    """The live ``batch=*`` dirs of *root*: every listed dir minus those
    a published ``_folded`` record names. With *retire*, also delete
    those leftovers and their records — compaction's recovery leg."""
    dirs = _list_batch_dirs(spark, root)
    fs, _ = _hadoop(spark, root)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    dead = set()
    for d in dirs:
        record = posixpath.join(d, "_folded")
        if posixpath.basename(d).startswith("batch=base") and fs.exists(
            Path(record)
        ):
            names = set(_read_small(fs, Path(record)).split())
            named = [x for x in dirs if posixpath.basename(x) in names]
            dead.update(named)
            if retire:
                _retire_folded(spark, record, named)
    return [d for d in dirs if d not in dead]


def read(
    spark: SparkSession, root: str, schema: StructType, exclude=None
) -> DataFrame:
    """Every live row of the log at *root* under *schema* (explicit:
    empty or partial batch dirs must not poison inference), or an empty
    frame when the log has no batch dirs. *exclude* drops one batch
    id's own dir — a stream passes its current epoch so a
    crashed-then-redelivered batch is not read against its own first
    attempt. ``batch`` is reserved: the read discovers it from the dir
    names, so a data column of that name would be overwritten."""
    if "batch" in schema.fieldNames():
        raise ValueError(f"column name 'batch' is reserved in epoch log {root}")
    dirs = [
        d
        for d in batch_dirs(spark, root)
        if exclude is None or posixpath.basename(d) != f"batch={exclude}"
    ]
    if not dirs:
        return _empty(spark, schema)
    # basePath keeps partitioned logs (IVF's list_id=*) one table; the
    # projection drops the batch=* partition column it adds
    return (
        spark.read.schema(schema)
        .option("basePath", root)
        .parquet(*dirs)
        .select(*schema.fieldNames())
    )


def batch_path(root: str, batch_id) -> str:
    return posixpath.join(root, f"batch={batch_id}")


def write(rows: DataFrame, root: str, batch_id, partition_by=None) -> None:
    """Persist one batch under ``batch=<batch_id>`` with overwrite — a
    re-delivered epoch replaces its first attempt, never doubles."""
    out = rows.write.mode("overwrite")
    if partition_by is not None:
        out = out.partitionBy(partition_by)
    out.parquet(batch_path(root, batch_id))


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
    partition_by: str | None = None,
) -> int:
    """Shared compaction tail for every log: rewrite *rows* into a
    hidden ``_compacting`` dir (hidden names are excluded from read
    listings, so readers never see a half-written base) together with a
    ``_folded`` record naming *old*, atomically rename it to the next
    ``batch=base<G>`` generation — base and record publish together, so
    from here on readers skip *old* — then delete *old* and the record.
    A crash anywhere leaves every row visible exactly once; the next
    compaction (``batch_dirs(retire=True)``) finishes the deletes.
    Returns ``len(old)``. Which rows to fold (a summed log's snapshot,
    a row log's live rows) is the caller's contract."""
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
    if partition_by is None:
        rows.coalesce(max(1, coalesce_n)).write.mode("overwrite").parquet(tmp)
    else:
        rows.repartition(max(1, coalesce_n), partition_by).write.mode(
            "overwrite"
        ).partitionBy(partition_by).parquet(tmp)
    out = fs.create(Path(posixpath.join(tmp, "_folded")), True)
    try:
        out.write(
            bytearray("\n".join(posixpath.basename(d) for d in old).encode())
        )
    finally:
        out.close()
    # mark consumed retractions BEFORE publishing: a retry of a marked
    # one must not write its negated partial again (_retraction_guard)
    for d in old:
        name = posixpath.basename(d)[len("batch="):]
        if name.startswith("retract"):
            entry = Path(posixpath.join(root, "_retracted", name))
            if fs.exists(entry):
                fs.create(Path(entry, "_folded"), True).close()
    dest = posixpath.join(root, f"batch=base{gen}")
    if not fs.rename(Path(tmp), Path(dest)):
        raise OSError(f"compaction rename to {dest} failed")
    _retire_folded(spark, posixpath.join(dest, "_folded"), old)
    return len(old)


def _retire_folded(spark: SparkSession, record: str, dirs: list[str]) -> None:
    """Delete a published fold's consumed *dirs*, then its *record* —
    in that order, so a crash in between still hides any survivor."""
    fs, _ = _hadoop(spark, record)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    for d in dirs:
        fs.delete(Path(d), True)
    fs.delete(Path(record), False)


def compact_tombstoned(
    spark: SparkSession,
    root: str,
    tomb_dir: str,
    live,
    coalesce_n: int,
    partition_by: str | None = None,
) -> int:
    """Fold a row log into one base generation and make its deletes
    physical: ``live()`` (the log's rows minus tombstoned ids) is
    rewritten by ``_fold_batch_dirs``, then the tombstone dirs the fold
    consumed are cleared. Returns the number of batch dirs folded; 0
    when there is nothing to do (no tombstones, and no dir besides one
    base).

    Every crash point stays serving-correct: until the fold publishes,
    the old dirs still carry tombstoned rows, but the tombstones that
    mask them are removed only after the base is published. An epoch
    landing mid-compaction is read into the base (the write job lists
    its inputs after the snapshot) AND survives in its own dir —
    duplicate rows, which bucket joins de-duplicate and serving
    compaction collapses. Single concurrent writer assumed (the
    streaming foreachBatch contract); run it from the maintenance
    cadence, not per epoch."""
    old = batch_dirs(spark, root, retire=True)
    # SNAPSHOT the tombstone dirs before any fold work: a delete()
    # landing while the fold job runs was not applied to the rows
    # being rewritten, so clearing it here would silently UNDO the
    # retraction — only the dirs this fold actually consumed are
    # safe to remove (the late one survives for the next compact)
    tomb_dirs = _list_batch_dirs(spark, tomb_dir)
    if not old or (
        not tomb_dirs
        and len(old) == 1
        and posixpath.basename(old[0]).startswith("batch=base")
    ):
        return 0
    folded = _fold_batch_dirs(spark, root, live(), old, coalesce_n, partition_by)
    fs, _ = _hadoop(spark, tomb_dir)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    for d in tomb_dirs:
        fs.delete(Path(d), True)
    return folded


class CounterLog:
    """A summed-counter epoch log under *root*: partial rows under
    *schema*, whose first field is the key and whose other fields are
    counters summed on read.

    ``append`` writes one batch's partial; ``retract`` writes a negated
    partial under ``batch=retract<k>`` after the at-most-once ledger
    check, so sums cancel exactly; ``compact`` merges a snapshot into
    one base generation, bounding files AND rows at key cardinality.
    Stores built on it keep only the code that computes their partial
    rows. *name* labels the non-negativity backstop's error."""

    def __init__(
        self, spark: SparkSession, root: str, schema: StructType, name: str
    ) -> None:
        self.spark = spark
        self.root = root
        self.schema = schema
        self.name = name
        self.key, *self.counters = schema.fieldNames()
        fs, jroot = _hadoop(spark, root)
        fs.mkdirs(jroot)

    def partials(self, exclude=None) -> DataFrame:
        """Raw partial rows of every live batch dir (see ``read``)."""
        return read(self.spark, self.root, self.schema, exclude)

    def totals(self, partials: DataFrame | None = None) -> DataFrame:
        """One row per key, every counter summed."""
        if partials is None:
            partials = self.partials()
        return partials.groupBy(self.key).agg(
            *[F.sum(c).alias(c) for c in self.counters]
        )

    def append(self, partial: DataFrame, batch_id) -> None:
        write(partial.select(*self.schema.fieldNames()), self.root, batch_id)

    def retract(
        self, partial: DataFrame, ids: DataFrame, retraction_id: int | None = None
    ) -> None:
        """Cancel a previously appended contribution: *partial* is
        recomputed from the retracted docs exactly as it was appended
        (the log keeps no per-doc rows to derive it from); *ids* (one
        column) feeds the shared retraction ledger, which rejects a
        double retract before anything is written, and an
        ambiguous-failure retry passes the same *retraction_id* to
        overwrite its own ``retract<k>`` dir (or do nothing once a
        fold consumed it)."""
        target = _retraction_guard(self.spark, self.root, ids, retraction_id)
        if target is None:
            return
        partial.select(
            self.key, *[(-F.col(c)).alias(c) for c in self.counters]
        ).write.mode("overwrite").parquet(target)

    def compact(self, coalesce_n: int = 1) -> int:
        """Merge every foldable batch dir into one summed base
        generation; returns the number of dirs folded.

        Partials are SUMMED, so folding a row twice corrupts the
        counts. The merge reads strictly the snapshot it retires: an
        epoch landing mid-compaction is neither folded nor deleted, the
        newest epoch dir is held back (``_foldable_dirs``), and the
        ``_folded`` record keeps a crash after publication from
        exposing the folded dirs beside their base. Zero-sum keys
        (fully retracted) are dropped. Single concurrent writer
        assumed; run from the maintenance cadence, never concurrently
        with ``append``."""
        dirs = batch_dirs(self.spark, self.root, retire=True)
        old = _foldable_dirs(dirs)
        if len(old) <= 1:
            return 0

        def sums(ds):
            return self.totals(self.spark.read.schema(self.schema).parquet(*ds))

        # retraction-contract backstop over ALL partials (incl. the
        # un-foldable newest epoch, which a retraction may legitimately
        # cancel)
        _assert_counters_nonnegative(
            sums(dirs), self.counters, f"{self.name}.compact"
        )
        nonzero = reduce(operator.or_, [F.col(c) != 0 for c in self.counters])
        return _fold_batch_dirs(
            self.spark, self.root, sums(old).filter(nonzero), old, coalesce_n
        )


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
    already skips non-numeric names. Ledger entries count too, so k is
    never reused after compaction folds ``retract<k>`` away: a reused k
    would overwrite the earlier ledger entry (un-guarding its ids) and
    could name a dir a crashed fold's record still hides."""
    names = [posixpath.basename(d)[len("batch="):]
             for d in _list_batch_dirs(spark, root)]
    fs, jledger = _hadoop(spark, posixpath.join(root, "_retracted"))
    if fs.exists(jledger):
        names += [st.getPath().getName() for st in fs.listStatus(jledger)]
    hi = -1
    for name in names:
        if name.startswith("retract") and name[len("retract"):].isdigit():
            hi = max(hi, int(name[len("retract"):]))
    return posixpath.join(root, f"batch=retract{hi + 1}")


def _retraction_guard(
    spark: SparkSession,
    root: str,
    ids: DataFrame,
    retraction_id: int | None = None,
) -> str | None:
    """ENFORCE the at-most-once retraction contract for the
    summed-counter stores, and return the ``batch=retract<k>`` dir the
    negated partial must be written to — or None when there is nothing
    to write.

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
      ``append`` and ``delete`` already take. Once a fold has consumed
      ``retract<k>`` (its ledger entry carries the fold's ``_folded``
      mark) the retry returns None: the negated partial already sits in
      a base, or still in its own dir if the fold crashed before
      publishing. Re-using an id for a DIFFERENT id-set is rejected;
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
        _, jmark = _hadoop(spark, posixpath.join(own_dir, "_folded"))
        if fs.exists(jmark):
            return None
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


def doc_schema(id_col: str, payload_col: str, payload_type=StringType()):
    """The landing docs an arrival stream reads: a long id, then one
    payload column (text unless *payload_type* says otherwise)."""
    return StructType(
        [
            StructField(id_col, LongType(), False),
            StructField(payload_col, payload_type, True),
        ]
    )


def arrival_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    roots: list[str],
    step: Callable[[DataFrame, DataFrame | None, int], DataFrame | None],
    *,
    seen: Callable[[int], DataFrame] | None = None,
    sink: str | None = None,
    on_sink: Callable[[list, int], None] | None = None,
    absorb: Callable[[DataFrame, int], None] | None = None,
    min_batch: int = 0,
):
    """Start one arrival index's stream: the driver behind every
    ``start_*_stream``, whose families supply only ``step``.

    The delivery contract, shared by all of them:

    * Newline-JSON docs under *schema* (its first field is the doc id)
      are read from *landing_dir* with the ``availableNow`` trigger;
      restarting with the same *checkpoint_dir* processes only files
      landed since (incremental fill).
    * Each micro-batch writes under the STORE batch id
      ``bid = _stream_batch_base(roots) + epoch`` (never below
      *min_batch*). A re-delivered epoch keeps its id, so it overwrites
      its own ``batch=<bid>`` dirs and converges; a fresh checkpoint
      over filled stores starts above every numeric batch dir in
      *roots* and never clobbers ``batch=0``.
    * Ids repeated inside a batch keep one arbitrary row. *seen* is the
      id guard: ``seen(bid)`` reads the rows the stores already hold,
      excluding the current epoch's own dir (a crashed epoch
      reprocesses in full), and an anti-join on its id column drops
      every cross-epoch re-arrival. Without a guard each doc must land
      at most once: a summed store would count a re-arrival twice.
    * A batch left empty writes nothing and calls nothing.
    * ``step(batch, prior, bid)`` gets the batch, the ``seen`` frame
      (None without *seen*) and the store batch id. With *sink*, the
      frame it returns is the verdict: written to ``<sink>/batch=<bid>``
      on the executors (its volume may be unbounded), and read back
      with its schema into ``on_sink(rows, bid)`` when that opt-in
      callback is given. Callback side effects are the caller's to
      make idempotent.
    * ``absorb(batch, bid)`` then appends the batch to the stores,
      after the verdict is written: a crash before it leaves the stores
      as the verdict saw them.
    """
    id_col = schema.fieldNames()[0]
    base = max(_stream_batch_base(spark, checkpoint_dir, roots), min_batch)

    def _process(batch: DataFrame, epoch_id: int) -> None:
        bid = base + epoch_id
        batch = batch.dropDuplicates([id_col])
        prior = None if seen is None else seen(bid)
        if prior is not None:
            batch = batch.join(prior.select(id_col), id_col, "left_anti")
        if not batch.take(1):
            return
        verdict = step(batch, prior, bid)
        if sink is not None:
            verdict_schema = verdict.schema
            write(verdict, sink, bid)
            if on_sink is not None:
                rows = spark.read.schema(verdict_schema).parquet(
                    batch_path(sink, bid)
                ).collect()
                on_sink([r.asDict() for r in rows], bid)
        if absorb is not None:
            absorb(batch, bid)

    return (
        spark.readStream.schema(schema)
        .json(landing_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
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
