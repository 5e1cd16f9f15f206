"""Local replica of the driver's correctness gate: run each __spark_entry__
query on Spark and its oracle on DuckDB over the same sf dir; compare row
count + column names + order-insensitive values.

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df, float_dp=9):
    """pandas DF → sorted list of row tuples with floats rounded."""
    import math

    import pandas as pd

    df = df[sorted(df.columns)]
    rows = []
    for t in df.itertuples(index=False):
        row = []
        for v in t:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(None)
            elif isinstance(v, float):
                row.append(round(v, float_dp))
            elif hasattr(v, "item"):
                row.append(v.item() if not isinstance(v.item(), float) else round(v.item(), float_dp))
            else:
                row.append(v)
        rows.append(tuple(row))
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), x) for x in r))
    return rows


def compare(sdf, odf):
    """None when the Spark and oracle pandas frames agree on column names,
    row count and order-insensitive values; otherwise what differs."""
    cols_s, cols_o = sorted(sdf.columns), sorted(odf.columns)
    if cols_s != cols_o:
        return f"COLS MISMATCH: spark={cols_s} oracle={cols_o}"
    if len(sdf) != len(odf):
        return f"ROWCOUNT MISMATCH: spark={len(sdf)} oracle={len(odf)}"
    cs, co = canon(sdf), canon(odf)
    if cs != co:
        diffs = [i for i, (a, b) in enumerate(zip(cs, co)) if a != b][:3]
        detail = "; ".join(f"[{i}] spark={cs[i]} oracle={co[i]}" for i in diffs)
        return f"VALUES MISMATCH ({len(cs)} rows): {detail[:400]}"
    return None


def main():
    import duckdb

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry

    # VANILLA session on purpose — the round-1 flatten_merge failure was the
    # engine silently depending on its own session factory's confs
    # (mapKeyDedupPolicy). The driver's gate runs a plain session; so must
    # this replica. Only master/TZ/memory are set (environment, not
    # semantics), sized to the cores this process may use and to the
    # engine's default driver heap; every query must be correct under
    # default SQL confs.
    from pyspark.sql import SparkSession

    from dude_spark.session import _default_driver_memory

    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName("compare_oracle")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            results[name] = f"SPARK ERROR: {type(e).__name__}: {str(e)[:200]}"
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            results[name] = f"ROWS-ONLY: {len(sdf)} rows in {t_spark:.1f}s"
            continue
        t0 = time.time()
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE ERROR: {type(e).__name__}: {str(e)[:200]}"
            continue
        t_oracle = time.time() - t0
        results[name] = compare(sdf, odf) or (
            f"OK: {len(sdf)} rows (spark {t_spark:.1f}s, oracle {t_oracle:.1f}s)"
        )

    print()
    width = max(len(k) for k in results)
    n_ok = 0
    for name, r in results.items():
        flag = "PASS" if r.startswith(("OK", "ROWS-ONLY")) else "FAIL"
        n_ok += flag == "PASS"
        print(f"{flag}  {name:<{width}}  {r}")
    print(f"\n{n_ok}/{len(results)} pass")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
