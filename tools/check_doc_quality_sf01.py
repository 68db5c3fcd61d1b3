"""sf0.1 verification for the `doc_quality_score` oracle, run in STAGES.

Why this exists: the driver's gate runs the single-statement oracle at
sf0.01, where it passes. At sf0.1 the same statement makes DuckDB spill
~50 GB: `tr` (features x labels) is referenced by seven downstream CTEs
(three GD rounds x two passes + final scoring) and `lbl` drags the
whole recursive jaccard-closure chain with it, so the optimizer's
CTE-inlining re-evaluates the expensive subtrees repeatedly. This
script runs the IDENTICAL SQL text, but materializes the two fan-out
points (`lbl`, `fx`) as temp tables first — a pure evaluation-order
change, zero expression changes (the statement text is sliced from
oracle_sql() itself, not re-written) — then compares the final frame
against the Spark query exactly like tools/check_oracle.py does.

Usage: CHECK_SF_DIR=/root/testdata/sf0.1 python tools/check_doc_quality_sf01.py
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from check_oracle import TABLES, dtype_class_mismatches, normalize  # noqa: E402
from cesium_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.1")


def main():
    q = entrymod.oracle_sql()["doc_quality_score"]
    i_dtok = q.index("dtok AS (")
    i_tr = q.index("tr AS (")
    lbl_sql = q[:i_dtok].rstrip().rstrip(",") + "\nSELECT doc_id, y FROM lbl"
    fx_sql = ("WITH " + q[i_dtok:i_tr].rstrip().rstrip(",")
              + "\nSELECT doc_id, bucket, x FROM fx")
    tail_sql = "WITH " + q[i_tr:]  # tr/ntr/w*/sc now read the temp tables

    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duck_dq_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    t0 = time.time()
    con.execute("CREATE TEMP TABLE lbl AS " + lbl_sql)
    print(f"lbl materialized in {time.time() - t0:.1f}s", flush=True)
    t0 = time.time()
    con.execute("CREATE TEMP TABLE fx AS " + fx_sql)
    print(f"fx materialized in {time.time() - t0:.1f}s", flush=True)
    t0 = time.time()
    odf = con.execute(tail_sql).df()
    print(f"GD rounds + scoring in {time.time() - t0:.1f}s", flush=True)

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    sdf = entrymod.queries()["doc_quality_score"](spark, SF_DIR).toPandas()
    spark.stop()

    assert len(sdf) == len(odf), f"rowcount {len(sdf)} vs {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    bad = dtype_class_mismatches(sdf[sorted(sdf.columns)],
                                 odf[sorted(odf.columns)])
    assert not bad, f"dtype-class mismatch: {bad}"
    pd.testing.assert_frame_equal(
        normalize(sdf), normalize(odf),
        check_dtype=False, check_exact=False, rtol=0, atol=5e-7)
    print(f"doc_quality_score PASS OK ({len(sdf)} rows) at {SF_DIR}")


if __name__ == "__main__":
    main()
