"""spark-submit entry point: retention enforcement over a snapshot table.

Usage:
  spark-submit --master local[8] --py-files cesium_spark.zip \
      jobs/retention_job.py --table <snapshot-table-dir> \
      --lineage <rollup-output>/_lineage --horizon 2025-02-01 \
      [--tiers 1m,1h,1d] [--dry-run]

Drops raw rows of days strictly older than --horizon ONLY when every
tier's rollup unit covering that day is committed in the lineage log
with a per-day input fingerprint matching the table's CURRENT row
counts (late-arriving rows block the drop until a rollup recommit).
Deletion is one new snapshot at data-file granularity: files holding
only dropped days leave the manifest unread, and only files that also
hold kept days are rewritten with those rows. Prior snapshots still
time-travel to the raw data until `expire_snapshots`. Prints one JSON
report line: `apply_retention`'s report, which counts files_removed,
files_rewritten and rows_rewritten. --dry-run prints the same plan
without writing: would_drop_days, would_drop_rows, blocked_days and the
paths in would_remove_files and would_rewrite_files.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    from pyspark.sql import SparkSession

    from cesium_spark.operators.retention import apply_retention, plan_retention
    from cesium_spark.sources.table import SnapshotTable
    from cesium_spark.streaming.checkpoint import LineageLog

    p = argparse.ArgumentParser()
    p.add_argument("--table", required=True, help="SnapshotTable root dir")
    p.add_argument("--lineage", required=True, help="rollup lineage log dir")
    p.add_argument("--horizon", required=True,
                   help="ISO date; days strictly older become droppable")
    p.add_argument("--tiers", default="1m,1h,1d")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--dry-run", action="store_true")
    args = p.parse_args(argv)

    spark = SparkSession.builder.appName("cesium-spark-retention").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table = SnapshotTable(args.table)
    log = LineageLog(args.lineage)
    horizon = dt.datetime.fromisoformat(args.horizon)
    tiers = args.tiers.split(",")

    if args.dry_run:
        plan = plan_retention(spark, table, log, tiers, horizon, args.ts_col)
        report = {
            "dry_run": True,
            "would_drop_days": [d.isoformat() for d in plan.dropped_days],
            "would_drop_rows": plan.rows_before - plan.rows_after,
            "blocked_days": [d.isoformat() for d in plan.blocked_days],
            "would_remove_files": plan.remove_files,
            "would_rewrite_files": plan.rewrite_files,
        }
    else:
        report = apply_retention(
            spark, table, log, tiers, horizon, args.ts_col)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
    from pyspark.sql import SparkSession

    SparkSession.getActiveSession().stop()
