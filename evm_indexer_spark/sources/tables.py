"""Parquet table readers.

Two table families:

- **Driver tables** (``TESTDATA.md``): TPC-H-ish star schema + ``events``
  stream table + ``documents``/``embeddings`` at sf0.001/0.01/0.1. The
  ``events`` table stores TIMESTAMP(NANOS) which Spark's parquet reader
  rejects; with ``spark.sql.legacy.parquet.nanosAsLong=true`` (set in
  ``session.get_spark``) it arrives as long nanoseconds and we rebuild a
  microsecond TIMESTAMP_NTZ here — matching what DuckDB produces for the
  same file, so oracle comparisons line up exactly.

- **EVM tables** (``FIXTURES.md``): blocks / transactions / events in the
  reference's storage model, generated by ``sources.fixtures``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DRIVER_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

EVM_TABLES = ["blocks", "transactions", "events"]

# driver `events` column carried as long-nanos by the legacy reader
_NANOS_TS_COLS = {"events": ["ts"]}


def _ensure_nanos_conf(spark: SparkSession) -> None:
    """Make nano-timestamp parquet readable on ANY session, not just ours.

    The driver's correctness harness builds a vanilla SparkSession; without
    ``spark.sql.legacy.parquet.nanosAsLong`` the ``events`` table read dies
    with PARQUET_TYPE_ILLEGAL. The conf is runtime-settable, so set it here
    rather than relying on ``session.get_spark`` having run.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf rejected on some builds
        pass


# lazy-plan cache: repeated load_table calls (52 catalog queries touch a
# handful of tables) reuse one analyzed plan instead of re-running file
# listing + schema resolution per call. Values are immutable DataFrames;
# keyed by Spark application so a new session never sees stale plans.
_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table, normalizing nano-timestamp columns."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name in _NANOS_TS_COLS:
        _ensure_nanos_conf(spark)
    try:
        df = spark.read.parquet(path)
    except Exception:
        if name not in _NANOS_TS_COLS:
            raise
        # Conf rejected or ignored: read via pyarrow, downcasting nanos to
        # micros (safe: driver timestamps are second-granularity), then hand
        # Spark an arrow table it can ingest. Only viable for the small
        # driver tables — the conf path is the at-scale route.
        import pyarrow.parquet as pq

        tbl = pq.read_table(path)
        df = spark.createDataFrame(tbl.to_pandas())
    for col in _NANOS_TS_COLS.get(name, []):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(
                col,
                # `div` is integer division: nanos ~1.7e18 exceed double's
                # exact-integer range, so float division would corrupt micros
                F.expr(f"cast(timestamp_micros({col} div 1000) as timestamp_ntz)"),
            )
    _PLAN_CACHE[key] = df
    return df


# footer-stat cache: keyed by (sf_dir, name, fixture stamp) — parquet
# footers are immutable for a GIVEN fixture file, but tools that
# regenerate fixtures in-process (scale_testdata, adversarial twins)
# must not be served stale hints, so the key carries the file's
# (mtime_ns, size) stamp (round-12 verdict nit). One os.stat per
# lookup; the footer read still happens once per distinct fixture.
_META_CACHE: dict[tuple, tuple[int, dict]] = {}
_COLBYTES_CACHE: dict[tuple, int | None] = {}


def fixture_stamp(sf_dir: str, name: str) -> tuple | None:
    """Identity stamp of a fixture table's backing file — the footer
    caches' invalidation key. Single file: (mtime_ns, size). Directory
    table: (max_mtime_ns, total_size, n_files) across part files —
    the part COUNT and SUM of sizes are folded in because the max
    alone misses a regeneration that removes or rewrites parts while
    the max-mtime file survives, and coarse-mtime filesystems can
    leave max_mtime unchanged across a rewrite (round-13 ADVICE).
    None when the path is absent (the caches then key on None and
    re-probe, which is the cheap path — a missing table
    short-circuits before any footer read)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (st.st_mtime_ns, st.st_size)
        if os.path.isdir(path):
            max_mtime, total_size, n_files = 0, 0, 0
            for root, _dirs, names in os.walk(path):
                for f in names:
                    if f.endswith(".parquet") and not f.startswith(("_", ".")):
                        st = os.stat(os.path.join(root, f))
                        max_mtime = max(max_mtime, st.st_mtime_ns)
                        total_size += st.st_size
                        n_files += 1
            return (max_mtime, total_size, n_files) if n_files else None
    except OSError:
        return None
    return None


def _parquet_meta(sf_dir: str, name: str) -> tuple[int, dict] | None:
    """(row_count, {col: (min, max)}) from parquet FOOTERS — no Spark
    job, no data read. Cost-based strategy routing (q27/q34/q54/q66
    tier picks) needs only coarse table shape; footer statistics give
    it for the price of a metadata read, where a ``df.count()`` probe
    is a full extra Spark job per query invocation. Returns None when
    the path isn't a local parquet file/dir or a column chunk lacks
    stats — callers fall back to computing the probe on the cluster
    (object-store deployments hit that path; the routing still works,
    it just pays the job)."""
    key = (sf_dir, name, fixture_stamp(sf_dir, name))
    if key in _META_CACHE:
        return _META_CACHE[key]
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        import pyarrow.parquet as pq

        files = []
        if os.path.isdir(path):
            for root, _dirs, names in os.walk(path):
                files.extend(
                    os.path.join(root, f)
                    for f in names
                    if f.endswith(".parquet") and not f.startswith(("_", "."))
                )
        elif os.path.isfile(path):
            files = [path]
        if not files:
            return None
        rows = 0
        ranges: dict[str, list] = {}
        for f in files:
            md = pq.ParquetFile(f).metadata
            rows += md.num_rows
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    st = c.statistics
                    if st is None or not st.has_min_max:
                        ranges[c.path_in_schema] = None  # type: ignore[assignment]
                        continue
                    cur = ranges.get(c.path_in_schema)
                    if cur is None and c.path_in_schema in ranges:
                        continue  # a chunk without stats poisons the column
                    if cur is None:
                        ranges[c.path_in_schema] = [st.min, st.max]
                    else:
                        cur[0] = min(cur[0], st.min)
                        cur[1] = max(cur[1], st.max)
        out = (rows, {k: tuple(v) for k, v in ranges.items() if v is not None})
        _META_CACHE[key] = out
        return out
    except Exception:
        return None


def table_rowcount(sf_dir: str, name: str) -> int | None:
    """Exact row count from parquet footers, or None (see _parquet_meta)."""
    meta = _parquet_meta(sf_dir, name)
    return meta[0] if meta else None


def table_column_range(sf_dir: str, name: str, col: str) -> tuple | None:
    """(min, max) of *col* from footer statistics, or None."""
    meta = _parquet_meta(sf_dir, name)
    if not meta:
        return None
    return meta[1].get(col)


def table_column_bytes(sf_dir: str, name: str, col: str) -> int | None:
    """Total UNCOMPRESSED byte size of *col* from parquet footers — no
    Spark job, no data read. A sound upper bound for text-volume
    routing: whitespace tokens (and therefore token n-gram windows)
    number at most bytes/2, so ``bytes // 2 <= threshold`` proves a
    gram set is broadcast-safe without the eager probe job the
    in-operator routing otherwise pays (q80/q81). Nested columns
    (arrays/structs) are summed over their leaf chunks — parquet
    footers record leaves as ``col.list.element`` paths, so a bare
    ``col`` lookup matches any leaf under the column's path prefix
    (round 16: the one-task byte gates need ``embeddings.embedding``).
    Returns None for non-local/footerless sources — callers then take
    the distributed plan."""
    key = (sf_dir, name, col, fixture_stamp(sf_dir, name))
    if key in _COLBYTES_CACHE:
        return _COLBYTES_CACHE[key]
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        import pyarrow.parquet as pq

        files = []
        if os.path.isdir(path):
            for root, _dirs, names in os.walk(path):
                files.extend(
                    os.path.join(root, f)
                    for f in names
                    if f.endswith(".parquet") and not f.startswith(("_", "."))
                )
        elif os.path.isfile(path):
            files = [path]
        if not files:
            return None
        total, found = 0, False
        for f in files:
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    if c.path_in_schema == col or c.path_in_schema.startswith(
                        col + "."
                    ):
                        found = True
                        total += c.total_uncompressed_size
        if not found:
            # the table exists but NO chunk carries this column (absent
            # or renamed): 0 here would let a caller footer-"prove"
            # broadcast-safety from zero evidence (round-12 advice).
            # Integers are reserved for columns actually present; the
            # miss is cached too (footers are immutable per fixture).
            _COLBYTES_CACHE[key] = None
            return None
        _COLBYTES_CACHE[key] = total
        return total
    except Exception:
        return None


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in DRIVER_TABLES}


def load_evm_tables(spark: SparkSession, fixture_dir: str) -> dict[str, DataFrame]:
    """Read the EVM fixture tables (see ``sources.fixtures``)."""
    return {
        t: spark.read.parquet(os.path.join(fixture_dir, f"{t}.parquet"))
        for t in EVM_TABLES
    }
