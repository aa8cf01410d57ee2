"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() on the same sf dir,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod
from scalablevectorsearch_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or hasattr(v, "__len__") and not isinstance(v, str) else v
            )
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in osql:
            print(f"SKIP {name}: no oracle (rows={len(got)})")
            continue
        try:
            exp = con.execute(osql[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            failures.append((name, f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"))
            print(f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"rows {len(got)} vs {len(exp)}"))
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            continue
        g, e = canon(got), canon(exp)
        try:
            eq = g.astype(str).equals(e.astype(str))
        except Exception:
            eq = False
        if not eq:
            diff = (g.astype(str) != e.astype(str)).any(axis=1)
            failures.append((name, f"{int(diff.sum())} differing rows"))
            print(f"FAIL {name}: {int(diff.sum())} differing rows")
            print(pd.concat([g[diff].head(3), e[diff].head(3)], keys=["spark", "duckdb"]))
        else:
            print(f"OK   {name} ({len(got)} rows)")
    print(f"\n{len(failures)} failures" if failures else "\nall OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
