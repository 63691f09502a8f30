"""Local stand-in for the driver's CORRECTNESS gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01; compare row
count, column names, and order-insensitive value hash."""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)]
    rows = []
    for row in pdf.itertuples(index=False):
        rows.append("|".join(_norm(v) for v in row))
    rows.sort()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def _norm(v) -> str:
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def main() -> int:
    # check the checkout this script lives in, wherever it was exported to
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from open_vector_tile_spark.plans import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracles = entry.oracle_sql()
    only = set(sys.argv[1:])  # optional: check only the named queries
    failures = 0
    t_start = time.monotonic()
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            got = fn(spark, SF).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            failures += 1
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"{name}: rows-only ({len(got)} rows) [no oracle] t={dt:.2f}s")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {e}")
            failures += 1
            continue
        ok_rows = len(got) == len(want)
        ok_cols = sorted(got.columns) == sorted(want.columns)
        ok_hash = ok_rows and ok_cols and value_hash(got) == value_hash(want)
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "MISMATCH"
        if status != "OK":
            failures += 1
        print(
            f"{name}: {status} rows={len(got)}/{len(want)} cols_ok={ok_cols} hash_ok={ok_hash} t={dt:.2f}s"
        )
        if not ok_hash and ok_rows and ok_cols:
            merged = got[sorted(got.columns)].round(6).sort_values(sorted(got.columns)).reset_index(drop=True)
            wanted = want[sorted(want.columns)].round(6).sort_values(sorted(want.columns)).reset_index(drop=True)
            diff = (merged != wanted) & ~(merged.isna() & wanted.isna())
            bad = diff.any(axis=1)
            print("  first diffs:")
            print(merged[bad].head(3))
            print(wanted[bad].head(3))
    spark.stop()
    print(f"TOTAL: {time.monotonic() - t_start:.1f}s")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
