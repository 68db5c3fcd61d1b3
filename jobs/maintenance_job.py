"""spark-submit entry point: Iceberg-style table maintenance — z-order
sort rewrite + snapshot expiry over a SnapshotTable.

Usage:
  spark-submit --master local[8] --py-files cesium_spark.zip \
      jobs/maintenance_job.py --table <snapshot-table-root> \
      [--ts-col ts] [--key-col conv_id] [--bits 8] [--n-files 8] \
      [--keep-last 2]

Reads the table at its current snapshot, rewrites it range-partitioned
and sorted by the Morton key of (hour bucket, key bucket) — after which
both time-range and key-range scans touch O(boundary) files — commits
the rewrite as a new snapshot (manifest-first: a crash mid-rewrite
leaves the previous snapshot intact), then expires snapshots beyond
--keep-last. Prints one JSON metrics line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    from pyspark.sql import SparkSession

    from cesium_spark.operators.layout import rewrite_zordered
    from cesium_spark.sources.table import SnapshotTable

    p = argparse.ArgumentParser()
    p.add_argument("--table", required=True)
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--key-col", default="conv_id")
    p.add_argument("--bits", type=int, default=8)
    p.add_argument("--n-files", type=int, default=8)
    p.add_argument("--keep-last", type=int, default=2)
    args = p.parse_args(argv)

    spark = SparkSession.builder.appName("cesium-spark-maintenance").getOrCreate()
    table = SnapshotTable(args.table)
    n_before = table.read(spark).count()
    t0 = time.perf_counter()
    snap = rewrite_zordered(
        table, spark, ts_col=args.ts_col, key_col=args.key_col,
        bits=args.bits, n_files=args.n_files,
    )
    rewrite_s = round(time.perf_counter() - t0, 3)
    n_after = table.read(spark).count()
    if n_after != n_before:
        raise RuntimeError(
            f"rewrite changed row count: {n_before} -> {n_after}"
        )
    removed = table.expire_snapshots(keep_last=args.keep_last)
    print(json.dumps({
        "table": args.table,
        "snapshot": snap,
        "rows": n_after,
        "rewrite_sec": rewrite_s,
        "expired_snapshots": len(removed),
    }))


if __name__ == "__main__":
    main()
    from pyspark.sql import SparkSession

    SparkSession.getActiveSession().stop()
