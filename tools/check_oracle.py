"""Replicates the driver's correctness gate locally: run each
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin through
DuckDB at sf0.01, compare row count + order-insensitive values
(columns sorted by name, rows sorted, floats rounded to 9dp).

Usage (from the repo root): PYTHONPATH=. python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["lineitem", "documents"]


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith("datetime"):
            # FIRST: tz-aware dtypes (DuckDB returns datetime64[us, Etc/UTC])
            # crash np.issubdtype, so they never reach the branch below
            pdf[c] = (
                pdf[c].dt.tz_localize(None)
                if getattr(pdf[c].dtype, "tz", None) is not None
                else pdf[c]
            ).astype("datetime64[us]").astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].astype(np.float64).round(9)
        elif np.issubdtype(pdf[c].dtype, np.integer):
            pdf[c] = pdf[c].astype(np.int64)
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def main() -> int:
    import __spark_entry__ as entry_mod
    from gencore_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(sys.argv[1:])
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"FAIL  {name}: no oracle_sql() entry")
            failures.append(name)
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        try:
            odf = con.sql(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failures.append(name)
            continue
        a, b = normalize(sdf), normalize(odf)
        # harmonize numeric dtypes (DuckDB HUGEINT sums → float/Decimal)
        for c in set(a.columns) & set(b.columns):
            if a[c].dtype != b[c].dtype:
                try:
                    a[c] = a[c].astype(np.float64).round(6)
                    b[c] = b[c].astype(np.float64).round(6)
                except (TypeError, ValueError):
                    a[c] = a[c].astype(str)
                    b[c] = b[c].astype(str)
        a = a.sort_values(list(a.columns), ignore_index=True)
        b = b.sort_values(list(b.columns), ignore_index=True)
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failures.append(name)
            continue
        if len(a) != len(b):
            print(f"FAIL  {name}: rowcount {len(a)} vs {len(b)}")
            failures.append(name)
            continue
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            print(f"FAIL  {name}: {int(neq.sum())}/{len(a)} rows differ; first:")
            print(pd.concat([a[neq].head(3), b[neq].head(3)]))
            failures.append(name)
            continue
        print(f"OK    {name}: {len(a)} rows match ({dt:.1f}s)")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
