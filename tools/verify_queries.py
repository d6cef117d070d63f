"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and an order-insensitive value comparison. Floats compared
exactly (both sides round explicitly) with a fallback report of max diff.

Usage: python tools/verify_queries.py [name ...]
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.01"
MAX_DRIVER_QUERIES = 50
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def open_oracle(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table at sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compare(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Raise AssertionError unless got and want hold the same columns and,
    order-insensitively, the same rows."""
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        raise AssertionError(f"columns {list(g.columns)} != {list(w.columns)}")
    if len(g) != len(w):
        raise AssertionError(f"rowcount {len(g)} != {len(w)}")
    diffs = []
    for c in g.columns:
        a, b = g[c], w[c]
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            d = np.nanmax(
                np.abs(a.astype(float).to_numpy() - b.astype(float).to_numpy())
            ) if len(a) else 0.0
            if d > 0:
                diffs.append(f"{c}: maxdiff={d:.2e}")
        else:
            neq = (a.astype(str) != b.astype(str)).sum()
            if neq:
                diffs.append(f"{c}: {neq} mismatched")
    if diffs:
        raise AssertionError("; ".join(diffs))


def main(names: list[str]) -> int:
    import __spark_entry__ as e
    from kg_curation_spark.session import get_spark

    spark = get_spark(parallelism=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = open_oracle()

    qs, orc = e.queries(), e.oracle_sql()
    # The driver records at most MAX_DRIVER_QUERIES CORRECTNESS rows per
    # round (observed r03: 54 registered -> 50 recorded, last 4 silently
    # dropped). Registering more than it records means previously-green
    # operators lose their row — fail loudly here instead.
    if len(qs) > MAX_DRIVER_QUERIES:
        print(
            f"FATAL: queries() registers {len(qs)} > driver budget "
            f"{MAX_DRIVER_QUERIES}; consolidate sibling oracles "
            f"(extras would be silently unrecorded)"
        )
        spark.stop()
        return 1
    todo = names or list(qs)
    fails = 0
    for name in todo:
        try:
            got = qs[name](spark, SF_DIR).toPandas()
            if name not in orc:
                print(f"{name:28s} rows={len(got):7d}  (no oracle — rows-only)")
                continue
            compare(got, con.sql(orc[name]).df())
            print(f"{name:28s} rows={len(got):7d}  OK")
        except Exception as ex:
            fails += 1
            print(f"{name:28s} FAIL: {ex}")
    spark.stop()
    return fails


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
