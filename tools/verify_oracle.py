"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on DuckDB
at the same sf, then compare row count, column names, and order-insensitive
values (columns sorted by name, rows sorted, exact equality).

Usage: python tools/verify_oracle.py [sf_dir] [query ...] [--out report.json]

With --out, the per-query results land as a JSON artifact in the same shape
as the driver's CORRECTNESS files (rows/schema/hash matches + row counts),
plus each query's Spark and DuckDB wall seconds and the host's core count
and load average, so out-of-driver-window verification runs are committable
evidence and a per-query wall ledger.

DuckDB runs with a memory limit and a thread count (DUCKDB_CONFIG) so that
the sf0.1 oracles fit a host that also runs the Spark session.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402

DUCKDB_CONFIG = {"memory_limit": "4GB", "threads": min(4, os.cpu_count() or 1)}

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: None if v is None else str(v))
        elif "datetime" in str(s.dtype) or "date" in str(s.dtype):
            df[c] = s.astype(str)
        elif s.dtype.kind == "f":
            df[c] = s.astype("float64")
        elif s.dtype.kind in "iu":
            df[c] = s.astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    argv = list(sys.argv[1:])
    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from kgpipe.session import get_spark

    spark = get_spark("verify-oracle", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect(config=DUCKDB_CONFIG)
    load_start = os.getloadavg()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"  {name:24s} rows-only: {len(sdf)} rows  ({t_spark:.1f}s)")
            report[name] = {"rows_only": True, "spark_rows": len(sdf),
                            "t_spark": round(t_spark, 3),
                            "err": None if len(sdf) else "0 rows"}
            if len(sdf) == 0:
                failures.append((name, "0 rows on rows-only query"))
            continue
        t0 = time.time()
        odf = con.sql(oracles[name]).df()
        t_duck = time.time() - t0
        a, b = normalize(sdf), normalize(odf)
        status = "OK"
        if list(a.columns) != list(b.columns):
            status = f"SCHEMA MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
        elif len(a) != len(b):
            status = f"ROWCOUNT spark={len(a)} duck={len(b)}"
        elif not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            status = f"VALUES differ in {int(bad.sum())}/{len(a)} rows"
            ex = a[bad].head(3), b[bad].head(3)
            status += f"\n  spark:\n{ex[0]}\n  duck:\n{ex[1]}"
        print(f"  {name:24s} {len(a):7d} rows  spark={t_spark:5.1f}s duck={t_duck:4.1f}s  {status.splitlines()[0]}")
        ok = status == "OK"
        report[name] = {
            "rows_match": len(a) == len(b),
            "schema_match": list(a.columns) == list(b.columns),
            "hash_match": ok,
            "spark_rows": len(a),
            "oracle_rows": len(b),
            "t_spark": round(t_spark, 3),
            "t_duck": round(t_duck, 3),
            "err": None if ok else status.splitlines()[0],
        }
        if not ok:
            failures.append((name, status))

    print()
    if out_path:
        with open(out_path, "w") as f:
            host = {"cores": os.cpu_count(), "loadavg_start": load_start,
                    "loadavg_end": os.getloadavg(), "duckdb": DUCKDB_CONFIG}
            json.dump({"sf_dir": sf_dir, "host": host, "results": report},
                      f, indent=2)
        print(f"report: {out_path}")
    if failures:
        for n, s in failures:
            print(f"FAIL {n}: {s}")
        return 1
    print("ALL MATCH")
    return 0


if __name__ == "__main__":
    sys.exit(main())
