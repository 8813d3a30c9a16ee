"""Local stand-in for the driver's correctness harness.

Runs every `queries()` entry at a scale-factor dir, canonicalizes the
result the way the driver does (pandas sort over ALL columns — list/map
columns crash exactly like the driver's canonicalizer, which is the point:
this script fails where CORRECTNESS_r{N} would), and, where `oracle_sql()`
provides SQL, runs the same query in DuckDB over the same parquet and
compares row count, sorted column names, dtypes, and a value hash.

Usage:
    python scripts/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return pdf


def value_hash(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in pdf.columns:
        s = pdf[col]
        if s.dtype.kind == "f":
            s = s.round(6)
        h.update(s.astype(str).str.cat(sep="\x00").encode())
        h.update(b"\x01")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name must fail loudly, not report ALL GREEN on the rest
        print(f"[ERR ] unknown query name(s): {sorted(unknown)}")
        return 1
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            s_canon = canon(sdf)
        except Exception as ex:
            print(f"[ERR ] {name}: spark/canon failed: {ex!r}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"[rows] {name}: {len(sdf)} rows "
                  f"({time.time()-t0:.1f}s, no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
            o_canon = canon(odf)
        except Exception as ex:
            print(f"[ERR ] {name}: oracle failed: {ex!r}")
            failures.append(name)
            continue
        rows_ok = len(s_canon) == len(o_canon)
        cols_ok = list(s_canon.columns) == list(o_canon.columns)
        dt_s = [s_canon[c].dtype.kind for c in s_canon.columns]
        dt_o = [o_canon[c].dtype.kind for c in o_canon.columns]
        hash_ok = (rows_ok and cols_ok
                   and value_hash(s_canon) == value_hash(o_canon))
        status = "OK  " if (rows_ok and cols_ok and hash_ok) else "FAIL"
        print(f"[{status}] {name}: spark={len(s_canon)} oracle={len(o_canon)}"
              f" cols_ok={cols_ok} hash_ok={hash_ok}"
              f" ({time.time()-t0:.1f}s)")
        if status == "FAIL":
            failures.append(name)
            if not cols_ok:
                print(f"    spark cols: {list(s_canon.columns)} {dt_s}")
                print(f"    oracle cols: {list(o_canon.columns)} {dt_o}")
            elif rows_ok:
                diff = (s_canon.astype(str) != o_canon.astype(str)).any(axis=1)
                print("    first diffs (spark vs oracle):")
                print(pd.concat([s_canon[diff].head(3),
                                 o_canon[diff].head(3)]))
    print(f"\n{'ALL GREEN' if not failures else 'FAILURES: ' + str(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
