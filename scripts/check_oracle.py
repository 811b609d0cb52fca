"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at sf0.01,
compare row count + column names + order-insensitive values.

Usage: python scripts/check_oracle.py [--bare] [sf_dir] [only_query ...]

``--bare`` runs the Spark side in a session built with no repo config
(``SparkSession.builder.master(...).getOrCreate()``: Arrow conversion off,
Spark's defaults everywhere), so the answers can be checked both ways.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from graven_spark.session import build_session  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main() -> int:
    args = sys.argv[1:]
    bare = "--bare" in args
    args = [a for a in args if a != "--bare"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if bare:
        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = build_session(master="local[8]", shuffle_partitions=8,
                              extra_conf={"spark.driver.memory": "6g"})
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e).splitlines()[0][:200]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(got)} (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0][:200]}")
            n_fail += 1
            continue
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False, atol=1e-9)
            print(f"ok   {name}: rows={len(g)} [{time.time()-t0:.1f}s]")
        except AssertionError as e:
            print(f"FAIL {name}: values differ: {str(e).splitlines()[-1][:200]}")
            diff = (g != w).any(axis=1)
            print(g[diff].head(3))
            print(w[diff].head(3))
            n_fail += 1
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
