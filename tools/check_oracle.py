"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and, where an oracle exists,
the matching SQL on DuckDB (same parquet tables registered as views),
then compares row count, column names, and order-insensitive values
(exact match after sorting columns by name and rows by value).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from data_ingestion_project_spark.operators.materialize import pin_scope
from data_ingestion_project_spark.session import build_session
from data_ingestion_project_spark.sources.readers import TABLES

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    import os

    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are directories of part files (the
        # derived scratch/sf1 corpus); driver testdata is single files
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for robust ordering/compare (mirrors a value-hash)
    out = df.astype(str)
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return out


def main() -> int:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[2:])
    unknown = only - set(qs)
    if unknown:  # a typo would otherwise silently check nothing
        print(f"FAIL unknown query name(s): {sorted(unknown)}")
        return 2

    spark = build_session("oracle-check")
    con = duck_connection(SF_DIR)

    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with pin_scope():
                sdf = fn(spark, SF_DIR).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {dt:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(ddf):
            problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        if not problems:
            a, b = normalize(sdf), normalize(ddf)
            if not a.equals(b):
                diff = (a != b).any(axis=1)
                problems.append(f"values differ in {int(diff.sum())}/{len(a)} rows")
                ex = diff[diff].index[:3]
                for i in ex:
                    problems.append(f"  spark={a.loc[i].to_dict()}")
                    problems.append(f"  duck ={b.loc[i].to_dict()}")
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({len(sdf)} rows, {dt:.1f}s): " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print("     " + p)
        else:
            print(f"ok   {name}: match ({len(sdf)} rows, {dt:.1f}s)")
    print(f"\n{n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
