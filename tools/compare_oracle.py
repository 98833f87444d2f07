"""Local replica of the driver's correctness gate: run each
__spark_entry__ query at a given sf and compare with its DuckDB oracle
(row count, column names sorted, order-insensitive values).

Every query that runs also prints a ``[SHA256   ]`` line with a short
digest of its normalized frame, so two checkouts' outputs can be
compared for frame identity with one ``diff`` of those lines.

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# import the checkout this file is in, so a second clone runs its own code
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    rows = df.sort_values(list(df.columns)).reset_index(drop=True)
    return rows


def digest(df: pd.DataFrame) -> str:
    """Short sha256 of the normalized frame as CSV text: its column
    names and every value, independent of row and column order."""
    csv = normalize(df).to_csv(index=False).encode()
    return hashlib.sha256(csv).hexdigest()[:16]


def compare(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"schema: {sorted(a.columns)} vs {sorted(b.columns)}"]
    if len(a) != len(b):
        issues.append(f"rows: {len(a)} vs {len(b)}")
        return issues
    na, nb = normalize(a), normalize(b)
    for c in na.columns:
        va, vb = na[c].to_numpy(), nb[c].to_numpy()
        if va.dtype.kind == "f" or vb.dtype.kind == "f":
            bad = ~np.isclose(va.astype(float), vb.astype(float),
                              rtol=0, atol=0, equal_nan=True)
        else:
            bad = va != vb
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            issues.append(f"col {c}: {int(bad.sum())} diffs, first at row "
                          f"{i}: {va[i]!r} vs {vb[i]!r}")
    return issues


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from sketchlib.session import get_spark
    spark = get_spark("oracle-compare", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"[FAIL-RUN ] {name}: {type(ex).__name__}: {ex}")
            continue
        dt = time.time() - t0
        print(f"[SHA256   ] {name} {digest(got)}")
        sql = oracles.get(name)
        if sql is None:
            print(f"[ROWS-ONLY] {name}: {len(got)} rows  ({dt:.1f}s)")
            continue
        try:
            want = con.execute(sql).df()
        except Exception as ex:
            failures.append(name)
            print(f"[FAIL-SQL ] {name}: {ex}")
            continue
        issues = compare(got, want)
        if issues:
            failures.append(name)
            print(f"[MISMATCH ] {name} ({dt:.1f}s): " + "; ".join(issues))
        else:
            print(f"[OK       ] {name}: {len(got)} rows match  ({dt:.1f}s)")
    print()
    print("failures:", failures if failures else "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
