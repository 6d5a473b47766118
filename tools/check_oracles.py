"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count + column set + order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from homonim_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")  # local[host cores]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    compiles0 = compiles.getCount()
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL-spark] {name}: {e}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(got)} rows")
            if len(got) == 0 and name != "noop":
                failures.append((name, "0 rows"))
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL-duckdb] {name}: {e}")
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            failures.append((name, f"columns differ: {list(g.columns)} vs {list(w.columns)}"))
            print(f"[FAIL-cols] {name}: {list(g.columns)} vs {list(w.columns)}")
            continue
        if len(g) != len(w):
            failures.append((name, f"rowcount {len(g)} vs {len(w)}"))
            print(f"[FAIL-rows] {name}: {len(g)} vs {len(w)}")
            continue
        eq = True
        for c in g.columns:
            a, b = g[c], w[c]
            # Driver hashes stringified values, so int64 "125" vs float64
            # "125.0" mismatches (DuckDB HUGEINT sums land as float64) while
            # int32 vs int64 is fine. Flag only int-vs-float kind drift.
            kind = lambda s: ("f" if np.issubdtype(s.dtype, np.floating)
                              else "i" if np.issubdtype(s.dtype, np.integer) else "o")
            if kind(a) != kind(b) and "o" not in (kind(a), kind(b)):
                print(f"[FAIL-dtype] {name} col {c}: spark {a.dtype} vs oracle {b.dtype}")
                eq = False
                break
            if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
                ok = np.allclose(a.astype(float), b.astype(float), rtol=0, atol=1e-9, equal_nan=True)
            else:
                ok = (a.astype(str) == b.astype(str)).all()
            if not ok:
                mism = (a != b)
                print(f"[FAIL-vals] {name} col {c}: first diffs\n",
                      pd.DataFrame({"got": a, "want": b})[mism.fillna(True)].head(5))
                eq = False
                break
        if eq:
            print(f"[OK] {name}: {len(g)} rows")
        else:
            failures.append((name, "value mismatch"))

    print("\n=== SUMMARY ===")
    # with a large enough cache every distinct generated class compiles
    # once, so the count is the figure session.CODEGEN_CACHE_ENTRIES rests on
    n_compiles = compiles.getCount() - compiles0
    cache = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    print(f"codegen: {n_compiles} Janino compiles, cache {cache} entries")
    if n_compiles > cache:
        print(f"WARNING: {n_compiles} compiles exceed the codegen cache of {cache}; "
              "warm queries recompile evicted classes")
    if failures:
        for n, r in failures:
            print("FAIL", n, r)
        sys.exit(1)
    print("all checks passed")


if __name__ == "__main__":
    main()
