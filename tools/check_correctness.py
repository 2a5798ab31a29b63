"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
at sf0.01, compare row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, floats rounded).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    if len(df) == 0:
        return hashlib.md5(b"").hexdigest()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        df[c] = df[c].astype(str)
    rows = sorted(df.apply("|".join, axis=1).tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    # deliberately a PLAIN session (not session.get_spark): the driver
    # passes its own session into queries(), so the engine must not
    # depend on our session factory's configs.  CORES / SHUFFLE env
    # overrides drive the determinism sweep (PLANS.md): the gate must
    # pass under ANY task parallelism and shuffle layout.
    from pyspark.sql import SparkSession

    cores = os.environ.get("SPARK_GRAFT_CHECK_CORES", "*")
    shuffle = os.environ.get("SPARK_GRAFT_CHECK_SHUFFLE", "32")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("correctness-check")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            sdf = df.toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        finally:
            # same JVM hygiene as bench.py: localCheckpoint/broadcast
            # blocks stay pinned until the driver-side DataFrame object
            # is collected (py4j ref -> ContextCleaner); across 100+
            # queries at sf1 the backlog OOMs the JVM mid-run
            import gc

            df = None
            gc.collect()
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {str(ex)[:200]}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
            merged = sdf[sorted(sdf.columns)].round(6).merge(
                odf[sorted(odf.columns)].round(6), how="outer", indicator=True
            )
            diff = merged[merged["_merge"] != "both"]
            print(diff.head(10).to_string())
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"PASS  {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
