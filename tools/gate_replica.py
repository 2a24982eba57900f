"""Replica of the driver's per-round correctness gate.

Differences from tests/test_driver_gate.py (the fast local twin):

- builds a VANILLA SparkSession (no repo configs) like the driver does,
  so session-conf dependencies surface here instead of in the real gate;
- runs at sf0.01 (the driver's gate SF) by default;
- compares via pandas with dtype-sensitive value hashing, mimicking the
  driver's ``_canon`` (sort columns by name, sort rows, hash values) —
  Decimal-vs-float64 drift that value-equality hides shows up here.

Usage: python tools/gate_replica.py [q01 q20 ...]   (no args = all)
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

SF_DIR = __import__("os").environ.get("GATE_SF_DIR", "/root/testdata/sf0.01")
#: the checkout this script belongs to; its package is the one checked
ROOT = Path(__file__).resolve().parents[1]
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols).reset_index(drop=True)
    return df


def _hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in df.columns:
        h.update(col.encode())
        for v in df[col].tolist():
            h.update(repr(v).encode())
    return h.hexdigest()


def _entry():
    """The driver entry module of this script's own checkout, whatever
    the working directory or ``PYTHONPATH``."""
    sys.path.insert(0, str(ROOT))
    import __spark_entry__

    return __spark_entry__


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("gate-replica")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        # Arrow collection, matching the engine's own get_spark(): the
        # bare session pickled every toPandas row, which charged the
        # big-output entries tens of seconds of HARNESS time at sf1
        # (q61's 6M-row collect measured 28.5s pickled vs 3.9s Arrow
        # in an otherwise identical session — round-15 measurement);
        # the oracle side always collected natively, so the per-entry
        # ratios overstated exactly the entries with large outputs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    entry_mod = _entry()
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    wanted = sys.argv[1:] or sorted(queries)
    results = {}
    for name in wanted:
        full = next((k for k in queries if k.startswith(name)), None)
        if full is None:
            print(f"{name}: NOT FOUND", flush=True)
            continue
        t0 = time.time()
        try:
            sdf = queries[full](spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            results[full] = {"err": f"spark: {type(e).__name__}: {e}"}
            print(f"{full}: SPARK ERR {type(e).__name__}: {str(e)[:200]}", flush=True)
            continue
        spark_secs = round(time.time() - t0, 3)
        sql = oracles.get(full)
        if sql is None:
            results[full] = {
                "err": "no_oracle", "spark_rows": len(sdf),
                "spark_secs": spark_secs,
            }
            print(f"{full}: no_oracle rows={len(sdf)} ({spark_secs:.1f}s)", flush=True)
            continue
        t1 = time.time()
        try:
            ddf = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            results[full] = {"err": f"oracle: {type(e).__name__}: {e}"}
            print(f"{full}: ORACLE ERR {type(e).__name__}: {str(e)[:200]}", flush=True)
            continue
        try:
            s, d = _canon(sdf), _canon(ddf)
        except Exception as e:  # noqa: BLE001
            results[full] = {"err": f"canon: {type(e).__name__}: {e}"}
            print(f"{full}: CANON ERR {type(e).__name__}: {str(e)[:200]}", flush=True)
            continue
        res = {
            "rows_match": len(s) == len(d),
            "schema_match": list(s.columns) == [c.lower() for c in d.columns]
            or list(s.columns) == list(d.columns),
            "hash_match": _hash(s) == _hash(d.rename(columns=str.lower))
            if list(map(str.lower, d.columns)) == list(s.columns)
            else _hash(s) == _hash(d),
            "spark_rows": len(s),
            "oracle_rows": len(d),
            # correctness + timing from ONE artifact: spark_secs is the
            # cold per-query wall time (plan+execute+toPandas) on the
            # vanilla session; duck_secs the oracle's, same machine
            "spark_secs": spark_secs,
            "duck_secs": round(time.time() - t1, 3),
        }
        results[full] = res
        status = "OK" if res["hash_match"] else "MISMATCH"
        print(
            f"{full}: {status} rows={len(s)}/{len(d)} ({time.time()-t0:.1f}s)",
            flush=True,
        )
        if not res["hash_match"] and len(s) == len(d):
            # show first divergent row/col for debugging
            d2 = d.rename(columns=str.lower)[list(s.columns)] if list(
                map(str.lower, d.columns)
            ) == list(s.columns) else d
            for col in s.columns:
                sv, dv = s[col].tolist(), d2[col].tolist()
                bad = next(
                    (i for i, (a, b) in enumerate(zip(sv, dv)) if repr(a) != repr(b)),
                    None,
                )
                if bad is not None:
                    print(
                        f"    first diff col={col} row={bad}: "
                        f"spark={sv[bad]!r} oracle={dv[bad]!r}",
                        flush=True,
                    )
    print(json.dumps({k: v for k, v in results.items()}, default=str))


if __name__ == "__main__":
    main()
