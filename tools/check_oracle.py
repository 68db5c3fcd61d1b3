"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row-count / column names / values (column-name-sorted, row-sorted).

Usage: python tools/check_oracle.py [--rotated-out] [query ...]

--rotated-out runs exactly the queries PAST the driver's 50-slot window
(queries() is ordered newest-first; the driver checks the first 50), so
each round's sweep of rotated-out oracles is one command (r5 verdict
item 9).
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from cesium_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def _dtype_class(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def dtype_class_mismatches(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    """Columns whose dtype CLASS differs between the engines (int vs float
    etc.). The driver's value hash is representation-sensitive, so DuckDB
    HUGEINT sums surfacing as float64 (150.0) hash-diverge from Spark's
    int64 (150) even when every value is exact — the r5 driver-red class
    that check_dtype=False used to mask. Must be checked BEFORE normalize()
    coerces both sides."""
    return [c for c in sorted(a.columns)
            if _dtype_class(a[c]) != _dtype_class(b[c])]


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    spark = get_spark(master="local[8]", shuffle_partitions=16)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    args = sys.argv[1:]
    rotated_out = "--rotated-out" in args
    only = [a for a in args if a != "--rotated-out"]
    if rotated_out:
        only = list(qs)[50:] + only  # past the driver's newest-first window
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            results[name] = f"SPARK ERROR: {ex}"
            continue
        if name not in oracles:
            results[name] = f"rows-only: {len(sdf)} rows, cols={list(sdf.columns)}"
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            results[name] = f"ORACLE ERROR: {str(ex)[:300]}"
            continue
        if len(sdf) != len(odf):
            results[name] = f"ROWCOUNT MISMATCH spark={len(sdf)} oracle={len(odf)}"
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            results[name] = f"SCHEMA MISMATCH spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
            continue
        bad = dtype_class_mismatches(sdf[sorted(sdf.columns)],
                                     odf[sorted(odf.columns)])
        if bad:
            results[name] = (
                f"DTYPE CLASS MISMATCH cols={bad} "
                f"spark={[str(sdf[c].dtype) for c in bad]} "
                f"oracle={[str(odf[c].dtype) for c in bad]} "
                f"(driver hash would go red even if values match)"
            )
            continue
        a, b = normalize(sdf), normalize(odf)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                          rtol=0, atol=5e-7)
            results[name] = f"OK ({len(sdf)} rows)"
        except AssertionError as ex:
            # find first differing cell for debugging
            diff_info = str(ex).split("\n")[0]
            ncols = []
            for c in a.columns:
                try:
                    pd.testing.assert_series_equal(a[c], b[c], check_dtype=False,
                                                   check_exact=False, rtol=0, atol=5e-7)
                except AssertionError:
                    ncols.append(c)
            results[name] = f"VALUE MISMATCH cols={ncols} ({diff_info[:150]})"
    spark.stop()
    width = max(len(k) for k in results)
    fails = 0
    for k, v in results.items():
        flag = "PASS" if v.startswith(("OK", "rows-only")) else "FAIL"
        if flag == "FAIL":
            fails += 1
        print(f"{k:<{width}}  {flag}  {v}")
    print(f"\n{len(results) - fails}/{len(results)} pass")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
