"""The block store: manifest-committed snapshots on parquet.

The reference persists each block inside ONE Postgres transaction
(``StoreBlock``, ``app/db/block.go:24-106``): blocks, transactions and
events can never be observed half-written, and a same-number/different-
hash conflict cascade-deletes the old version first (the reorg replace).

This store keeps that cross-table atomicity with the mechanism
table formats like Iceberg/Delta use, reduced to its core: immutable
data objects + an atomically swapped manifest.

- data layout: ``objects/{table}/b{bucket}/c{version}/part-*.parquet`` —
  every rewrite of a bucket lands in a NEW version directory; nothing is
  ever modified in place.
- ``_manifest.json`` maps each (table, bucket) to its current version.
  A commit writes all new bucket versions for ALL THREE tables first,
  then swaps the manifest via write-temp + ``os.rename`` — atomic on a
  POSIX filesystem (on object stores, the same role is played by a
  conditional PUT). Readers resolve the manifest once and only ever see
  a complete commit: a crash at ANY point before the rename leaves the
  previous snapshot fully intact.
- uncommitted/superseded version dirs are garbage, reclaimed by
  ``vacuum()`` (never required for correctness).

Scale shape: the manifest holds one entry per (table, bucket) — a
20M-block chain at the default bucket size is a few hundred entries of
JSON, and a micro-batch commit touches O(batch-span / bucket-size)
buckets, so commit cost is independent of chain length. ``read()``
returns the whole table (all manifest paths); bucket predicates prune
via parquet row-group stats — each object file holds exactly one
bucket value, so min==max stats skip whole files. True path-level
pruning (resolving only the needed buckets' paths from the manifest
before the scan) happens via ``read_buckets``.

Zone maps: every commit also records the per-bucket ``[min(time),
max(time)]`` of the blocks it writes in the manifest (the Iceberg
"lower_bounds/upper_bounds" idea at bucket granularity). Number windows
prune by arithmetic (bucket = number // size); TIME windows cannot —
without zone maps a by-time read scans the whole chain. With them,
``buckets_for_time_range`` intersects the window against the recorded
bounds and resolves only the overlapping buckets' paths, for blocks AND
for the child fact tables (children live in their parent block's
bucket). Block time is near-monotone in number on a real chain, so the
overlap set is ~window-sized regardless of chain length.

Commit modes. The default ``cow`` (copy-on-write) rewrites every
touched bucket in full per commit — reads stay single-scan, but
steady ingest pays O(bucket_size) write amplification per micro-batch
(the head bucket is rewritten over and over as it fills). ``delta``
mode is merge-on-read, the Hudi/Delta MOR idea reduced to its core:
a commit appends ONE batch-sized object per touched bucket and the
manifest maps the bucket to ``{"base": v, "deltas": [v1, ...]}``.
Readers resolve replace-by-number with a latest-commit-wins window
over ``number`` (bucket-local — numbers never cross buckets), and the
child-table reorg cascade stays implicit: a child row survives iff its
parent hash is in the resolved block set, so no tombstones are needed.
``compact()`` folds a bucket's deltas back into a single base object
(readers of compacted buckets pay zero merge cost), and delta commits
auto-compact any bucket crossing ``max_deltas``, bounding read
amplification. Write amplification per commit drops from
O(bucket_size) to O(batch) — at 100 TB with thousands of commits per
bucket lifetime, that is the difference between sustainable ingest and
rewriting the table continuously.

Serving reads. A guardrail-bounded REST/GraphQL read touches one or two
buckets, and the manifest names their object files before any job
starts. ``local_rows`` reads those files with ``pyarrow.dataset`` on the
driver, with the filter pushed down, so such a read launches no Spark
job. It declines (returns None) when a touched bucket carries a delta
chain or the files exceed ``LOCAL_READ_BYTE_CAP``; the caller then runs
the Spark plan.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..schemas import BLOCK_BUCKET_SIZE, BLOCKS_SCHEMA, EVENTS_SCHEMA, TRANSACTIONS_SCHEMA
from .epochlog import _empty

_SCHEMAS = {
    "blocks": BLOCKS_SCHEMA,
    "transactions": TRANSACTIONS_SCHEMA,
    "events": EVENTS_SCHEMA,
}
_TABLES = ("blocks", "transactions", "events")

#: the most object bytes one ``local_rows`` call reads on the driver;
#: above it the read goes to the Spark plan (calibration: SCALE.md)
LOCAL_READ_BYTE_CAP = 64 << 20


def bucket_of(number_col):
    return (number_col / BLOCK_BUCKET_SIZE).cast("long")


def _cols(table: str) -> list[str]:
    """A stored table's columns: its schema plus ``bucket``."""
    return [f.name for f in _SCHEMAS[table]] + ["bucket"]


def _bucket_batch(blocks: DataFrame, txs: DataFrame, events: DataFrame):
    """Tag a batch's blocks with their bucket, and each child row with
    its parent block's bucket (every child belongs to a batch block).
    A batch carrying two hashes for one number (a reorg inside one
    delivery) keeps the block with the greatest hash, so a replay
    stores the same one; the other's children drop out of the join.
    The bucketed blocks come back persisted — they feed the touched-
    bucket list, both child joins and the writes, which would otherwise
    each parse the raw batch again — and the caller unpersists them."""
    blocks = (
        blocks.withColumn("_top", F.max("hash").over(Window.partitionBy("number")))
        .filter(F.col("hash") == F.col("_top"))
        .drop("_top")
        .withColumn("bucket", bucket_of(F.col("number")))
        .persist()
    )
    key = blocks.select(F.col("hash").alias("_bh"), "bucket")
    txs, events = (
        c.join(key, c["blockhash"] == key["_bh"], "inner").drop("_bh")
        for c in (txs, events)
    )
    return blocks, txs, events


def _swap_in(rows: DataFrame, path: str) -> None:
    """Replace the directory *path* with *rows* as one file: write them
    to ``<path>_next``, then swap by two renames. The old copy is
    renamed aside to ``<path>_retired`` first, so a crash between the
    renames never loses it (``published()`` restores the publish
    log's); a failed second rename puts it back."""
    tmp = path + "_next"
    rows.coalesce(1).write.mode("overwrite").parquet(tmp)
    retired = path + "_retired"
    shutil.rmtree(retired, ignore_errors=True)
    os.rename(path, retired)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(retired, path)
        raise
    shutil.rmtree(retired, ignore_errors=True)


class AtomicBlockStore:
    """Three bucketed tables committed atomically through one manifest,
    plus the publish log (``start_ingest_stream`` and
    ``HistoricalQueries`` run over it unchanged)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        commit_mode: str = "cow",
        max_deltas: int = 8,
    ) -> None:
        """*commit_mode*: ``"cow"`` rewrites touched buckets per commit
        (single-scan reads); ``"delta"`` appends batch-sized delta
        objects and merges on read (O(batch) write amplification).
        *max_deltas*: delta commits auto-compact any bucket whose delta
        chain reaches this length."""
        if commit_mode not in ("cow", "delta"):
            raise ValueError(f"unknown commit_mode {commit_mode!r}")
        self.spark = spark
        self.root = root
        self.commit_mode = commit_mode
        self.max_deltas = max_deltas
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        """Side-table path (publish log, hash index)."""
        return os.path.join(self.root, name)

    # -- manifest ----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def _manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": 0, "tables": {t: {} for t in _TABLES}, "stats": {}}

    def _archive_dir(self) -> str:
        return os.path.join(self.root, "manifests")

    def _archive_path(self, version: int) -> str:
        return os.path.join(self._archive_dir(), f"v{version}.json")

    def _commit_manifest(self, manifest: dict) -> None:
        # archive the snapshot FIRST (immutable history for time
        # travel), then swap the pointer. A crash in between leaves an
        # archive whose version exceeds the pointer — never served
        # (read_at guards version <= current) and overwritten verbatim
        # by the retried commit, which reuses the same next version.
        os.makedirs(self._archive_dir(), exist_ok=True)
        with open(self._archive_path(manifest["version"]), "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        tmp = self._manifest_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._manifest_path())  # THE commit point

    # -- time travel -------------------------------------------------------

    def snapshots(self) -> list[int]:
        """Committed snapshot versions available for time travel,
        ascending (archived manifests at or below the current pointer;
        history may start later than 1 after a retention vacuum)."""
        current = self._manifest()["version"]
        out = []
        try:
            for name in os.listdir(self._archive_dir()):
                if name.startswith("v") and name.endswith(".json"):
                    v = int(name[1:-5])
                    if v <= current:
                        out.append(v)
        except FileNotFoundError:
            pass
        return sorted(out)

    def _manifest_at(self, version: int) -> dict:
        current = self._manifest()
        if version == current["version"]:
            return current
        if version > current["version"]:
            raise ValueError(f"snapshot {version} was never committed")
        try:
            with open(self._archive_path(version)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot {version} is not retained (vacuumed or never "
                "committed)"
            ) from None

    def read_at(self, table: str, version: int) -> DataFrame:
        """The table exactly as it was at snapshot *version* — reorgs
        and all. Objects are immutable, so this is just resolving paths
        from the archived manifest (the Iceberg/Delta time-travel
        mechanism, reduced to its core)."""
        return self._read_table(table, self._manifest_at(version))

    def blocks_at(self, version: int) -> DataFrame:
        return self.read_at("blocks", version).drop("bucket")

    def transactions_at(self, version: int) -> DataFrame:
        return self.read_at("transactions", version).drop("bucket")

    def events_at(self, version: int) -> DataFrame:
        return self.read_at("events", version).drop("bucket")

    def _obj_dir(self, table: str, bucket: int, version: int) -> str:
        return os.path.join(self.root, "objects", table, f"b{bucket}", f"c{version}")

    def _write_object(
        self, df: DataFrame, table: str, bucket: int | str, version: int
    ) -> None:
        """Write one bucket's rows as a new immutable object dir, sorted
        on the table's lookup key so row-group stats prune (overwrite:
        a crashed attempt's partial dir is replaced on replay)."""
        sort_key = "number" if table == "blocks" else "blockhash"
        df.sortWithinPartitions(sort_key).coalesce(1).write.mode("overwrite").parquet(
            self._obj_dir(table, int(bucket), version)
        )

    # -- reads -------------------------------------------------------------

    @staticmethod
    def _entry_versions(entry) -> tuple[list[int], bool]:
        """(object versions oldest-first, needs_merge) for a manifest
        entry — plain int (COW base only) or MOR ``{"base","deltas"}``."""
        if isinstance(entry, dict):
            versions = [int(entry["base"])] + [int(v) for v in entry["deltas"]]
            return versions, len(versions) > 1
        return [int(entry)], False

    def _read_table(
        self, table: str, manifest: dict, buckets: list[int] | None = None
    ) -> DataFrame:
        """Resolve a table (optionally restricted to *buckets*) from a
        manifest. Buckets without deltas take the fast path — ONE
        multi-path scan, no merge plan at all. Buckets with deltas get
        merge-on-read: blocks resolve latest-commit-wins per number
        (numbers never cross buckets, so the window shuffle is uniform
        and bucket-local); children survive iff their parent hash is in
        the resolved block set (the reorg cascade, tombstone-free) and
        dedupe on their PK against idempotent re-delivery."""
        schema = T.StructType(
            list(_SCHEMAS[table].fields) + [T.StructField("bucket", T.LongType())]
        )
        entries = manifest["tables"].get(table, {})
        if buckets is not None:
            keep = {str(int(b)) for b in buckets}
            entries = {b: e for b, e in entries.items() if b in keep}
        by_version: dict[int, list[str]] = {}
        merge = False
        for b, e in entries.items():
            versions, has_deltas = self._entry_versions(e)
            merge = merge or has_deltas
            for v in versions:
                by_version.setdefault(v, []).append(self._obj_dir(table, int(b), v))
        if not by_version:
            return _empty(self.spark, schema)
        if not merge:
            paths = [p for ps in by_version.values() for p in ps]
            return self.spark.read.schema(schema).parquet(*paths)

        df = None
        for v, ps in sorted(by_version.items()):
            part = self.spark.read.schema(schema).parquet(*ps).withColumn(
                "_commit", F.lit(v)
            )
            df = part if df is None else df.unionByName(part)
        if table == "blocks":
            w = Window.partitionBy("number").orderBy(F.desc("_commit"))
            return (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_commit")
            )
        live = self._read_table("blocks", manifest, buckets).select(
            F.col("hash").alias("_kh")
        )
        pk = ["hash", "blockhash"] if table == "transactions" else ["blockhash", "index"]
        return (
            df.drop("_commit")
            .dropDuplicates(pk)
            .join(live, F.col("blockhash") == F.col("_kh"), "left_semi")
        )

    def read(self, table: str) -> DataFrame:
        return self._read_table(table, self._manifest())

    def read_buckets(self, table: str, buckets: list[int]) -> DataFrame:
        """Scan ONLY the given buckets' current object dirs — path-level
        pruning resolved from the manifest before the parquet scan even
        lists files. A guardrail-bounded number-window read (≤100
        blocks) touches 1-2 directories regardless of chain length."""
        return self._read_table(table, self._manifest(), buckets=buckets)

    def buckets_for_time_range(
        self, frm: int, to: int, manifest: dict | None = None
    ) -> list[int] | None:
        """Buckets whose recorded [min,max] block time intersects
        [frm, to] — the manifest zone-map lookup backing by-time path
        pruning. Returns None when the manifest predates zone maps
        (caller falls back to a full scan); buckets missing stats are
        conservatively included. *manifest*: resolve against this
        snapshot instead of reading the current one."""
        m = self._manifest() if manifest is None else manifest
        stats = m.get("stats", {}).get("blocks")
        if not stats:
            return None
        out = []
        for b in m["tables"].get("blocks", {}):
            bounds = stats.get(b)
            if (
                bounds is None
                or bounds[0] is None
                or bounds[1] is None
                or (bounds[0] <= to and bounds[1] >= frm)
            ):
                out.append(int(b))
        return sorted(out)

    def local_rows(
        self,
        table: str,
        buckets: list[int] | None,
        where=None,
        columns: list[str] | None = None,
        manifest: dict | None = None,
    ) -> list[dict] | None:
        """*table*'s rows in *buckets* that match the ``pyarrow.dataset``
        expression *where*, read on the driver straight from the
        manifest's object files (projected to *columns*): no Spark job.
        A bucket missing from the manifest contributes no rows. Returns
        None, and the caller runs the Spark plan, when the bucket set is
        unbounded (None), a touched bucket carries deltas (merge-on-read
        is the Spark plan's job), or the files total more than
        ``LOCAL_READ_BYTE_CAP`` (sizes from ``os.stat``, so the manifest
        format is unchanged)."""
        if buckets is None:
            return None
        m = self._manifest() if manifest is None else manifest
        entries = m["tables"].get(table, {})
        files = []
        for b in buckets:
            entry = entries.get(str(int(b)))
            if entry is None:
                continue
            versions, merge = self._entry_versions(entry)
            if merge:
                return None
            d = self._obj_dir(table, int(b), versions[0])
            files += [
                os.path.join(d, f)
                for f in sorted(os.listdir(d))
                if f.endswith(".parquet")
            ]
        if sum(os.stat(f).st_size for f in files) > LOCAL_READ_BYTE_CAP:
            return None
        if not files:
            return []
        return (
            ds.dataset(files, format="parquet")
            .to_table(columns=columns, filter=where)
            .to_pylist()
        )

    def blocks(self) -> DataFrame:
        return self.read("blocks").drop("bucket")

    def transactions(self) -> DataFrame:
        return self.read("transactions").drop("bucket")

    def events(self) -> DataFrame:
        return self.read("events").drop("bucket")

    def historical_queries(self, config=None):
        """HistoricalQueries wired to this store: number windows and
        point-by-number reads resolve only the touched buckets' object
        dirs via ``read_buckets`` — the scan never even lists the rest
        of the chain's files — TIME windows resolve their bucket set
        through the manifest zone maps (``buckets_for_time_range``), and
        ``HistoricalQueries.rows`` serves bounded reads through
        ``local_rows``."""
        from ..config import DEFAULT_CONFIG
        from ..operators.historical import HistoricalQueries

        return HistoricalQueries(
            self.read("blocks"),
            self.read("transactions"),
            self.read("events"),
            config or DEFAULT_CONFIG,
            bucket_size=BLOCK_BUCKET_SIZE,
            store=self,
        )

    def rest_facade(self, config=None):
        """RestFacade with every point-read optimization on by default:
        manifest path pruning for windows/point-by-number, and the
        hash→bucket hint index for point-by-hash."""
        from ..api import RestFacade
        from ..config import DEFAULT_CONFIG

        return RestFacade(
            self.historical_queries(config),
            config or DEFAULT_CONFIG,
            hash_index=HashIndex(self),
        )

    # -- atomic upsert -----------------------------------------------------

    def upsert_batch(
        self, blocks: DataFrame, txs: DataFrame, events: DataFrame
    ) -> None:
        """Replace-by-number across all three tables in ONE commit,
        via the configured commit mode (see module docstring)."""
        if self.commit_mode == "delta":
            self._delta_upsert_batch(blocks, txs, events)
        else:
            self._cow_upsert_batch(blocks, txs, events)

    def _cow_upsert_batch(
        self, blocks: DataFrame, txs: DataFrame, events: DataFrame
    ) -> None:
        """Copy-on-write commit: every touched bucket is rewritten in
        full (survivors ∪ batch). All new bucket versions are fully
        written before the manifest swap; a crash mid-write leaves only
        unreferenced object dirs. Replay after a crash re-runs the
        identical idempotent merge.
        """
        manifest = self._manifest()
        next_version = manifest["version"] + 1

        blocks, txs, events = _bucket_batch(blocks, txs, events)
        try:
            self._cow_write(manifest, next_version, blocks, txs, events)
        finally:
            blocks.unpersist()

    def _cow_write(
        self,
        manifest: dict,
        next_version: int,
        blocks: DataFrame,
        txs: DataFrame,
        events: DataFrame,
    ) -> None:
        """Merge the bucketed batch into its touched buckets, write the
        new bucket versions of all three tables, swap the manifest."""
        touched = [r[0] for r in blocks.select("bucket").distinct().collect()]
        replaced = blocks.select(F.col("number").alias("_num")).distinct()

        # survivors ∪ new, computed against the CURRENT snapshot
        # (path-pruned to the touched buckets; resolves any delta chains
        # there too, so a COW commit folds them away)
        cur_blocks = self._read_table("blocks", manifest, buckets=touched)
        new_blocks = cur_blocks.join(
            replaced, cur_blocks["number"] == replaced["_num"], "left_anti"
        ).unionByName(blocks.select(*_cols("blocks")))
        # child survivors: parent hash still present in the new block set
        parents = new_blocks.select(F.col("hash").alias("_kh"))

        def merge_children(table: str, batch: DataFrame) -> DataFrame:
            existing = self._read_table(table, manifest, buckets=touched)
            survivors = existing.join(
                parents, existing["blockhash"] == F.col("_kh"), "left_semi"
            )
            return survivors.select(*_cols(table)).unionByName(
                batch.select(*_cols(table))
            )

        merged = {
            "blocks": new_blocks,
            "transactions": merge_children("transactions", txs),
            "events": merge_children("events", events),
        }

        new_entries: dict[str, dict[str, int]] = {t: {} for t in _TABLES}
        time_stats: dict[str, list] = {}
        for table, df in merged.items():
            # one write per touched bucket (the manifest maps buckets to
            # versions, so each bucket needs its own directory) — persist
            # the merged frame across the loop or every bucket write
            # re-runs the snapshot read + replace/survivor joins
            df = df.persist()
            try:
                if table == "blocks":
                    # zone map: exact [min,max] block time per rewritten
                    # bucket (the frame IS the bucket's full new content,
                    # so bounds never go stale). O(touched) rows collected.
                    time_stats = {
                        str(int(r["bucket"])): [r["tmin"], r["tmax"]]
                        for r in df.groupBy("bucket")
                        .agg(F.min("time").alias("tmin"), F.max("time").alias("tmax"))
                        .collect()
                    }
                for b in touched:
                    self._write_object(
                        df.filter(F.col("bucket") == b), table, b, next_version
                    )
                    new_entries[table][str(int(b))] = next_version
            finally:
                df.unpersist()

        # data durable → swap the manifest (the only mutation readers see)
        for t in _TABLES:
            manifest["tables"].setdefault(t, {}).update(new_entries[t])
        manifest.setdefault("stats", {}).setdefault("blocks", {}).update(time_stats)
        manifest["version"] = next_version
        self._commit_manifest(manifest)

    def _delta_upsert_batch(
        self, blocks: DataFrame, txs: DataFrame, events: DataFrame
    ) -> None:
        """Merge-on-read commit: write ONLY the batch's rows per touched
        bucket (O(batch) write amplification — no snapshot read, no
        survivor join, the whole point at steady ingest). Readers
        resolve replace-by-number and the child cascade; zone-map bounds
        are widened (exact bounds return at compaction). Buckets whose
        delta chain reaches ``max_deltas`` are auto-compacted in a
        follow-up commit, bounding read amplification."""
        manifest = self._manifest()
        next_version = manifest["version"] + 1

        # single driver-side job for the whole preamble (round-15
        # latency leg cut): ONE per-bucket aggregate yields both the
        # touched-bucket list and the zone-map bounds — the previous
        # shape paid a distinct() collect AND a stats collect, two
        # scheduling floors per micro-batch on a latency-sensitive
        # stream. The aggregate also materializes the persisted blocks
        # frame the writes below reuse.
        blocks, txs, events = _bucket_batch(blocks, txs, events)
        stat_rows = (
            blocks.groupBy("bucket")
            .agg(F.min("time").alias("tmin"), F.max("time").alias("tmax"))
            .collect()
        )
        touched = [int(r["bucket"]) for r in stat_rows]
        batch_stats = {
            str(int(r["bucket"])): [r["tmin"], r["tmax"]] for r in stat_rows
        }
        batch = {
            "blocks": blocks.select(*_cols("blocks")),
            "transactions": txs.select(*_cols("transactions")),
            "events": events.select(*_cols("events")),
        }
        try:
            # the three tables land in DISJOINT object dirs, so their
            # write jobs are independent — submit them concurrently
            # (Spark sessions are thread-safe; FIFO-scheduled tiny jobs
            # overlap their scheduling floors instead of stacking them:
            # three sequential writes were the other latency floor)
            from concurrent.futures import ThreadPoolExecutor

            def _write(item) -> None:
                table, df = item
                for b in touched:
                    self._write_object(
                        df.filter(F.col("bucket") == b), table, b, next_version
                    )

            with ThreadPoolExecutor(max_workers=3) as ex:
                list(ex.map(_write, batch.items()))
        finally:
            blocks.unpersist()

        for t in _TABLES:
            tab = manifest["tables"].setdefault(t, {})
            for b in touched:
                bs = str(int(b))
                e = tab.get(bs)
                if e is None:
                    tab[bs] = next_version  # new bucket: the delta IS the base
                elif isinstance(e, dict):
                    e["deltas"].append(next_version)
                else:
                    tab[bs] = {"base": int(e), "deltas": [next_version]}
        stats = manifest.setdefault("stats", {}).setdefault("blocks", {})
        for bs, (lo, hi) in batch_stats.items():
            old = stats.get(bs)
            if old and old[0] is not None and old[1] is not None:
                stats[bs] = [min(old[0], lo), max(old[1], hi)]
            else:
                stats[bs] = [lo, hi]
        manifest["version"] = next_version
        self._commit_manifest(manifest)

        over = [
            int(b)
            for b, e in manifest["tables"]["blocks"].items()
            if isinstance(e, dict) and len(e["deltas"]) >= self.max_deltas
        ]
        if over:
            self.compact(buckets=over)

    def compact(self, buckets: list[int] | None = None) -> int:
        """Fold delta chains back into single base objects (optionally
        only for *buckets*). One atomic commit; readers of compacted
        buckets return to the zero-merge fast path, and blocks zone
        maps are recomputed exact (delta commits only widen them).
        Returns the number of (table, bucket) chains folded."""
        manifest = self._manifest()
        next_version = manifest["version"] + 1
        keep = None if buckets is None else {int(b) for b in buckets}
        targets = {
            t: [
                b
                for b, e in manifest["tables"].get(t, {}).items()
                if isinstance(e, dict) and (keep is None or int(b) in keep)
            ]
            for t in _TABLES
        }
        folded = sum(len(v) for v in targets.values())
        if not folded:
            return 0
        for t in _TABLES:
            for bs in targets[t]:
                df = self._read_table(t, manifest, buckets=[int(bs)]).persist()
                try:
                    self._write_object(df, t, bs, next_version)
                    if t == "blocks":
                        row = df.agg(
                            F.min("time").alias("tmin"), F.max("time").alias("tmax")
                        ).first()
                        manifest.setdefault("stats", {}).setdefault("blocks", {})[
                            bs
                        ] = [row["tmin"], row["tmax"]]
                finally:
                    df.unpersist()
                manifest["tables"][t][bs] = next_version
        manifest["version"] = next_version
        self._commit_manifest(manifest)
        return folded

    # -- publish log (T5 publish-once) -------------------------------------

    def published(self) -> DataFrame:
        path = self._path("_published")
        if not os.path.isdir(path):
            # crash recovery: a compaction interrupted mid-swap leaves the
            # old log renamed aside — restore it rather than reporting an
            # empty log (which would re-publish every block)
            retired = path + "_retired"
            if not os.path.isdir(retired):
                return _empty(self.spark, "number long, hash string")
            os.rename(retired, path)
        return self.spark.read.parquet(path)

    def mark_published(self, rows: DataFrame) -> None:
        rows.select("number", "hash").write.mode("append").parquet(
            self._path("_published")
        )

    def compact_published(self) -> None:
        """Rewrite the append-only publish log as one deduped file set.

        The log grows one tiny file per micro-batch and keeps
        reorged-away hashes forever; periodic compaction (e.g. alongside
        the T7 repair sweep) bounds both file count and the anti-join
        probe size. Dedup on (number, hash) preserves publish-once
        semantics exactly. The tables need no such pass: a COW commit
        writes each touched bucket as one sorted object, and delta
        chains fold through ``compact()``.
        """
        path = self._path("_published")
        if not os.path.isdir(path):
            return
        # Swap via directory renames so the live log is never absent: a
        # mode('overwrite') onto `path` deletes it before the rewrite
        # lands, and a crash in that window would make the T5 anti-join
        # see an empty log and re-publish every block. Rename is atomic
        # on a POSIX filesystem; the worst crash outcome is a stale
        # `_retired` directory, which ``published()`` restores.
        _swap_in(self.published().dropDuplicates(["number", "hash"]), path)

    # -- maintenance -------------------------------------------------------

    def vacuum(
        self, min_age_seconds: float = 3600.0, retain_snapshots: int = 2
    ) -> int:
        """Delete object dirs referenced by neither the current manifest
        nor the *retain_snapshots* most recent archived snapshots, and
        older than *min_age_seconds*. Returns dirs removed. Archived
        manifests falling out of retention are dropped too, so
        ``snapshots()`` reflects what ``read_at`` can actually serve.

        The grace period is load-bearing when vacuum runs concurrently
        with a writer: an in-flight ``upsert_batch`` has already written
        its next-version dirs but not yet swapped the manifest — they
        are unreferenced *right now* but about to be committed. Deleting
        only dirs older than the longest plausible commit (the same
        retention reasoning as Delta/Iceberg VACUUM) keeps concurrent
        maintenance safe; pass 0 only when no writer can be active.
        """
        import time

        retained = self.snapshots()[-max(retain_snapshots, 0):] if retain_snapshots else []
        live = set()
        for m in [self._manifest()] + [self._manifest_at(v) for v in retained]:
            live |= {
                self._obj_dir(t, int(b), v)
                for t, buckets in m["tables"].items()
                for b, e in buckets.items()
                for v in self._entry_versions(e)[0]
            }
        # drop out-of-retention archives (their objects may go below)
        for v in self.snapshots():
            if v not in retained:
                try:
                    os.remove(self._archive_path(v))
                except OSError:
                    pass
        removed = 0
        cutoff = time.time() - min_age_seconds
        objroot = os.path.join(self.root, "objects")
        for table in _TABLES:
            tdir = os.path.join(objroot, table)
            if not os.path.isdir(tdir):
                continue
            for bdir in os.listdir(tdir):
                full_b = os.path.join(tdir, bdir)
                for cdir in os.listdir(full_b):
                    full = os.path.join(full_b, cdir)
                    if full in live:
                        continue
                    try:
                        if os.path.getmtime(full) > cutoff:
                            continue
                    except OSError:
                        continue
                    shutil.rmtree(full, ignore_errors=True)
                    removed += 1
        return removed


# -- hash→bucket hint index (SURVEY §7 risk 3) ------------------------------
#
# Point lookups by hash (P4: GetBlockByHash / GetTransactionByHash) can't
# prune the number-bucketed layout — the hash says nothing about the
# bucket. The reference leans on a Postgres B-tree; the columnar analog
# is a SLIM append-only side index (hash, bucket): ~50 bytes/block, so
# even a 20M-block chain indexes in ~1 GB of narrow parquet that scans
# in a trice vs. the full fact tables, and the bucket it yields turns
# the point read into a one-bucket scan. Compacted like the publish log.


class HashIndex:
    """Append-only (hash, bucket) hint index over an ``AtomicBlockStore``."""

    def __init__(self, store: AtomicBlockStore) -> None:
        self.store = store

    def _path(self) -> str:
        return self.store._path("_hashidx")

    def append(self, blocks: DataFrame) -> None:
        """Record a batch's block hashes (call right after
        ``upsert_batch`` with the same normalized blocks)."""
        blocks.select(
            F.lower("hash").alias("hash"), bucket_of(F.col("number")).alias("bucket")
        ).write.mode("append").parquet(self._path())

    def read(self) -> DataFrame:
        if not os.path.isdir(self._path()):
            return _empty(self.store.spark, "hash string, bucket long")
        return self.store.spark.read.parquet(self._path())

    def bucket_of_hash(self, block_hash: str) -> int | None:
        """Resolve a block hash to its bucket; None if unindexed. One
        scan of the slim index — never of the fact tables — and no Spark
        job at all while the index has never been written. Reorged-away
        hashes may linger (like the publish log); the caller's point
        read simply finds no row in the bucket, which is correct."""
        if not os.path.isdir(self._path()):
            return None
        rows = (
            self.read()
            .filter(F.col("hash") == block_hash.lower())
            .select("bucket")
            .limit(1)
            .collect()
        )
        return int(rows[0][0]) if rows else None

    def _bucket_slice(self, table: str, bucket: int | None) -> DataFrame:
        """The *table* rows for one bucket, path-pruned through the
        manifest; the whole table when the bucket is unknown."""
        if bucket is None:
            return self.store.read(table)
        return self.store.read_buckets(table, [bucket])

    def lookup_block(self, block_hash: str) -> DataFrame:
        """P4 point read pruned through the index: resolve the bucket,
        then scan ONLY that bucket of ``blocks``. Falls back to the full
        scan when the hash is unindexed (pre-index history). Stored
        hashes are lowercase (``sources.normalize``), so the bare column
        comparison reaches the parquet scan as a pushed filter."""
        b = self.bucket_of_hash(block_hash)
        return (
            self._bucket_slice("blocks", b)
            .filter(F.col("hash") == block_hash.lower())
            .drop("bucket")
        )

    def lookup_block_transactions(self, block_hash: str) -> DataFrame:
        """Transactions of one block, bucket-pruned through the index:
        fact rows live in their parent block's bucket, so the block's
        bucket prunes the tx scan too."""
        b = self.bucket_of_hash(block_hash)
        return (
            self._bucket_slice("transactions", b)
            .filter(F.col("blockhash") == block_hash.lower())
            .drop("bucket")
        )

    def compact(self) -> None:
        """Dedup + rewrite through the same rename swap as the publish
        log (the index is advisory, so a lost index only costs
        performance, never correctness)."""
        path = self._path()
        if not os.path.isdir(path):
            return
        _swap_in(self.read().dropDuplicates(["hash"]), path)
