"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at the given SF dir, compares row count, column-name set, and
order-insensitive values. Exits nonzero on any mismatch. Each OK and
ROWS-ONLY line carries the sha256 of the normalized Spark frame, so two
checkouts' row outputs compare by diffing their logs. Ends by
printing the oracle hash (sha256 of the sorted-key JSON of
``oracle_sql()``) and the Spark master, so a run records which oracle it
checked and at what core count.

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from thuvienphapluat_crawler_spark.queries import TABLES  # noqa: E402
from thuvienphapluat_crawler_spark.session import get_spark  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(np.float64).round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype(np.int64)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frame_sha256(df: pd.DataFrame) -> str:
    """sha256 of a normalized frame's CSV text (header + rows)."""
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(spark_pdf)} rows sha256 {frame_sha256(normalize(spark_pdf))}")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        if len(spark_pdf) != len(duck_pdf):
            print(f"FAIL {name}: rows spark={len(spark_pdf)} duck={len(duck_pdf)}")
            failed.append(name)
            continue
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            print(f"FAIL {name}: cols spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
            failed.append(name)
            continue
        a, b = normalize(spark_pdf), normalize(duck_pdf)
        if not a.equals(b):
            diff = (a != b)
            ndiff = int(diff.to_numpy().sum())
            print(f"FAIL {name}: {ndiff} differing cells of {a.size}")
            mask = diff.any(axis=1)
            print("spark:\n", a[mask].head(5))
            print("duck:\n", b[mask].head(5))
            failed.append(name)
        else:
            print(f"OK   {name}: {len(a)} rows sha256 {frame_sha256(a)}")
    print("oracle sha256", hashlib.sha256(json.dumps(oracles, sort_keys=True).encode()).hexdigest())
    print("master", spark.sparkContext.master)
    spark.stop()
    if failed:
        print("FAILED:", failed)
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
