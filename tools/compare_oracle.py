"""Local mimic of the driver's correctness gate: run every queries()
entry on Spark at sf0.01 and compare against oracle_sql() via DuckDB
(row count + schema + order-insensitive value comparison).

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from lsh_apg_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(4)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle_compare", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            ours = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(ours)} rows (no oracle) "
                  f"[{time.time() - t0:.1f}s]")
            continue
        try:
            theirs = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            continue
        a, b = normalize(ours), normalize(theirs)
        status = None
        if list(a.columns) != list(b.columns):
            status = f"schema mismatch: {list(a.columns)} vs {list(b.columns)}"
        elif len(a) != len(b):
            status = f"row count {len(a)} vs {len(b)}"
        else:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                              check_exact=False, atol=1e-4)
            except AssertionError as exc:
                status = f"values differ: {str(exc)[:300]}"
        if status:
            print(f"FAIL  {name}: {status}")
            failures += 1
        else:
            print(f"OK    {name}: {len(a)} rows [{time.time() - t0:.1f}s]")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
