"""spark-submit entry point: tiered transcript rollup with per-unit
lineage + exact resume.

Usage:
  spark-submit --master local[8] --py-files cesium_spark.zip \
      jobs/rollup_job.py --input <parquet> --output <dir> \
      [--tiers 1m,1h,1d] [--features f1,f2,...] [--bucket-days 7] [--resume]

Reads the transcript table and runs the tier rollups (kernel
featurization) one day-bucket at a time: one pass computes every due tier
of the bucket and writes one parquet dir per (tier, bucket) unit,
``<output>/tier=<t>/bucket=<yyyymmdd>/``. Each unit is then committed on
its own in the lineage/metrics log, which makes resume exact: it redoes
only the stale units (see cesium_spark.jobs). Every tier must divide 24
hours.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    from pyspark.sql import SparkSession

    from cesium_spark.jobs import DEFAULT_FEATURES, run_rollup

    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--tiers", default="1m,1h,1d")
    p.add_argument("--features", default=",".join(DEFAULT_FEATURES))
    p.add_argument("--key-col", default="conv_id")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--tiebreak-col", default="turn_idx")
    p.add_argument("--bucket-days", type=int, default=7)
    p.add_argument("--resume", action="store_true",
                   help="skip units already committed in the lineage log")
    args = p.parse_args(argv)

    spark = SparkSession.builder.appName("cesium-spark-rollup").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    run_rollup(
        spark,
        args.input,
        args.output,
        tiers=args.tiers.split(","),
        features=args.features.split(","),
        key_col=args.key_col,
        ts_col=args.ts_col,
        tiebreak_col=args.tiebreak_col,
        resume=args.resume,
        bucket_days=args.bucket_days,
    )


if __name__ == "__main__":
    main()
    from pyspark.sql import SparkSession

    SparkSession.getActiveSession().stop()
