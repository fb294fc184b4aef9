"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() on DuckDB at sf0.01 (or --sf DIR), sorts columns by name
and rows by value, and compares exactly. Exit 1 on any mismatch.

Usage: python scripts/check_queries.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def open_oracle(sf: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per input table of ``sf``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


def check_query(spark, con, sf: str, name: str, query, sql: str | None) -> tuple[bool, str]:
    """Run one gate on Spark and, when it has oracle ``sql``, on DuckDB;
    compare exactly. Returns (ok, report lines)."""
    from stirling_pdf_spark.runtime.staging import release_staged

    t0 = time.time()
    try:
        sdf = query(spark, sf).toPandas()
        release_staged()
    except Exception as exc:
        return False, f"FAIL {name}: spark error: {exc}"
    warn = f"\nWARN {name}: 0 rows" if len(sdf) == 0 else ""
    if sql is None:
        return True, (f"ok   {name}: rows-only, {len(sdf)} rows "
                      f"({time.time() - t0:.1f}s)" + warn)
    try:
        odf = con.execute(sql).df()
    except Exception as exc:
        return False, f"FAIL {name}: duckdb error: {exc}"
    if set(sdf.columns) != set(odf.columns):
        return False, (f"FAIL {name}: columns {sorted(sdf.columns)} vs "
                       f"{sorted(odf.columns)}")
    if len(sdf) != len(odf):
        return False, f"FAIL {name}: rows {len(sdf)} vs {len(odf)}"
    a, b = normalize(sdf), normalize(odf)
    # dtype report (schema gate is strict-ish in the driver)
    dt_mismatch = [
        f"{c}: {a[c].dtype} vs {b[c].dtype}"
        for c in a.columns if str(a[c].dtype) != str(b[c].dtype)
    ]
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                      check_exact=True)
    except AssertionError as exc:
        return False, f"FAIL {name}: values differ: {str(exc)[:500]}"
    note = f" [dtypes: {'; '.join(dt_mismatch)}]" if dt_mismatch else ""
    return True, f"ok   {name}: {len(sdf)} rows ({time.time() - t0:.1f}s){note}" + warn


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as E
    from stirling_pdf_spark.session import get_spark

    spark = get_spark("check_queries", cores=8, shuffle_partitions=8)
    con = open_oracle(args.sf)
    qs = E.queries()
    sqls = E.oracle_sql()
    names = args.names or list(qs)
    failed = []
    for name in names:
        ok, report = check_query(spark, con, args.sf, name, qs[name],
                                 sqls.get(name))
        print(report)
        if not ok:
            failed.append(name)
    if failed:
        print(f"\n{len(failed)} FAILED: {failed}")
        return 1
    print(f"\nall {len(names)} queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
