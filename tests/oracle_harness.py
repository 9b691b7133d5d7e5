"""Local oracle compare harness: runs each QUERIES entry on Spark and
DuckDB over the same parquet dir and diffs (rows, schema-ish, values).

Mimics the driver's order-insensitive value-hash: sort columns by name,
normalize values to strings, sort rows, compare multisets.
"""

from __future__ import annotations

import math
import sys


def normalize(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = []
    for _, row in df_pandas[cols].iterrows():
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.6g}")
            else:
                vals.append(str(v))
        rows.append("\x01".join(vals))
    return cols, sorted(rows)


def compare(name, spark_df, duck_df, verbose=False):
    import pandas as pd  # noqa: F401

    scols, srows = normalize(spark_df.toPandas())
    dcols, drows = normalize(duck_df)
    ok = True
    if scols != dcols:
        print(f"  [{name}] COLUMN MISMATCH spark={scols} duck={dcols}")
        ok = False
    if len(srows) != len(drows):
        print(f"  [{name}] ROWCOUNT MISMATCH spark={len(srows)} duck={len(drows)}")
        ok = False
    if srows != drows:
        sset, dset = set(srows), set(drows)
        only_s = list(sset - dset)[:3]
        only_d = list(dset - sset)[:3]
        print(f"  [{name}] VALUE MISMATCH (spark-only={only_s} duck-only={only_d})")
        ok = False
    if ok and verbose:
        print(f"  [{name}] OK rows={len(srows)}")
    return ok


def main(sf_dir="/root/testdata/sf0.001", only=None):
    from pyspark.sql import SparkSession

    sys.path.insert(0, "/root/repo")
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return run(spark, sf_dir, only)
    finally:
        spark.stop()


def run(spark, sf_dir, only=None):
    """Compare every QUERIES entry (or those named in ``only``) with its
    DuckDB oracle over ``sf_dir``; returns the names that failed.

    A name in ``only`` that is not a QUERIES entry raises ValueError
    before anything runs: skipping it would report a check that never
    happened as passed."""
    import duckdb

    from libswish3_spark.operators.queries import QUERIES

    unknown = sorted(set(only or ()) - set(QUERIES))
    if unknown:
        raise ValueError(f"not registry entries: {', '.join(unknown)}")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, (fn, oracle) in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            if oracle is None:
                n = sdf.count()
                print(f"  [{name}] rows-only: {n} rows")
                continue
            ddf = con.execute(oracle).df()
            if not compare(name, sdf, ddf, verbose=True):
                failures.append(name)
        except Exception as e:
            print(f"  [{name}] ERROR: {type(e).__name__}: {str(e)[:400]}")
            failures.append(name)
    print("FAILURES:", failures or "none")
    return failures


if __name__ == "__main__":
    only = set(sys.argv[2:]) or None
    failures = main(
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001", only
    )
    # a CI-style caller must see failures in the exit status, not just
    # the printed FAILURES line
    sys.exit(1 if failures else 0)
