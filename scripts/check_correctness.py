#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
(column names), and order-insensitive values.

Usage: python scripts/check_correctness.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "lineitem documents".split()


def duck_conn():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.strftime("%Y-%m-%d %H:%M:%S")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if sorted(a.columns) != sorted(b.columns):
        return f"schema mismatch: spark={sorted(a.columns)} oracle={sorted(b.columns)}"
    if len(a) != len(b):
        return f"row count mismatch: spark={len(a)} oracle={len(b)}"
    na, nb = normalize(a), normalize(b)
    if not na.equals(nb):
        diff = (na != nb) & ~(na.isna() & nb.isna())
        bad = diff.any(axis=1)
        n_bad = int(bad.sum())
        sample = pd.concat(
            [na[bad].head(3).add_prefix("spark_"), nb[bad].head(3).add_prefix("oracle_")],
            axis=1,
        )
        return f"value mismatch in {n_bad} rows:\n{sample.to_string()}"
    return None


def main() -> int:
    import __spark_entry__ as E
    from gridfia_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(cores=8)
    con = duck_conn()
    qs = E.queries()
    os_ = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in os_:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(os_[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {ex}")
            failures += 1
            continue
        err = compare(sdf, odf)
        if err:
            print(f"FAIL {name}: {err}")
            failures += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
