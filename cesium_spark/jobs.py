"""Library entry for the tiered rollup job (wrapped by jobs/rollup_job.py
for spark-submit).

Work is committed in (tier, day-bucket) units: tier windows (1m/1h/1d, or
any width dividing 24 h, UTC) never cross a day boundary, so each unit is
independently computable and idempotently overwritable. Every unit commit
records input rows, output windows and wall time in the lineage log; resume
skips committed units whose input fingerprint (rows per unit) is unchanged —
exact mid-tier crash recovery, and late data landing in an old unit changes
its fingerprint and forces recompute of exactly that unit.

Execution is one pass per day-bucket: every due tier of the bucket comes
out of one query (`bucket_rollup`: a scan pruned to the bucket's ts
range, one exchange, one mapInPandas), written with dynamic partition
overwrite into ``tier=<t>/bucket=<key>/``, with each tier's output windows
counted in flight by ``DataFrame.observe``. Each due tier is then committed
as its own unit, whose ``wall_sec`` is the bucket pass.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.rollup import rollup_tiers, tier_micros
from .streaming.checkpoint import LineageLog

# rows per Python task of a bucket pass: the kernel computes the three
# default tiers of DEFAULT_FEATURES in about 6 us per row, so a task of
# this size spends about as long in its UDF as in its fixed start-up
ROWS_PER_TASK = 50_000

DEFAULT_FEATURES = [
    "n_epochs", "mean", "std", "amplitude", "total_time", "avgt",
    "cads_avg", "cads_med", "cads_std", "median",
    "median_absolute_deviation", "skew", "stetson_j", "stetson_k",
    "weighted_average", "weighted_std_dev", "max_slope",
]


def bucket_rollup(
    df: DataFrame,
    days: list[dt.datetime],
    rows: int,
    tiers,
    features,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
) -> DataFrame:
    """One day-bucket at every tier of `tiers`, as ``rollup_tiers`` rows
    ``(tier, key, window_start, features...)``. `days` are the bucket's
    sorted UTC day starts; the rows read are those with ts in
    [days[0], days[-1] + 1 day), a range the parquet scan prunes on.

    The exchange has one partition per ROWS_PER_TASK of the bucket's
    `rows`, at most one per core (one wave of Python tasks): each Python
    task costs about 0.3 s before its UDF runs, and each writes one file
    per tier, so a small bucket is cheapest in few tasks."""
    ts_type = df.schema[ts_col].dataType
    ts = F.col(ts_col)
    lo = F.lit(days[0]).cast(ts_type)
    hi = F.lit(days[-1] + dt.timedelta(days=1)).cast(ts_type)
    return rollup_tiers(
        df.filter((ts >= lo) & (ts < hi)), features, tiers,
        key_col=key_col, ts_col=ts_col, tiebreak_col=tiebreak_col,
        num_partitions=min(-(-rows // ROWS_PER_TASK),
                           df.sparkSession.sparkContext.defaultParallelism),
    )


def run_rollup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    tiers=("1m", "1h", "1d"),
    features=None,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    resume: bool = False,
    bucket_days: int = 7,
    verbose: bool = True,
) -> list[dict]:
    """Run the tiered rollup in per-(tier, day-bucket) committed units,
    one pass per bucket over its due tiers. Returns the list of unit
    metric dicts (committed + skipped), tier by tier.

    Raises ValueError, before any Spark job, for a tier whose window does
    not divide 24 hours, and for a `bucket_days` other than the one the
    output's committed units were cut with: their bucket partitions would
    stay beside the new ones, holding duplicate windows."""
    features = list(features or DEFAULT_FEATURES)
    for tier in tiers:
        tier_micros(tier)
    log = LineageLog(os.path.join(output_path, "_lineage"))
    committed = [u for u in log.units() if re.fullmatch(r"tier-.+-days-\d{8}", u)]
    for unit in committed:
        recorded = ((log.read(unit) or {}).get("metrics") or {}).get("bucket_days")
        if recorded is not None and recorded != bucket_days:
            raise ValueError(
                f"unit {unit} of {output_path} was cut with bucket_days="
                f"{recorded}, not bucket_days={bucket_days}; roll up into a "
                "new output or keep the recorded bucket_days")
    df = spark.read.parquet(input_path)
    day_col = F.date_trunc("day", F.col(ts_col))

    # unit fingerprint: rows per day (one cheap JVM agg; late data landing
    # in an old day changes that day's count and invalidates its units)
    per_day = (
        df.groupBy(day_col.alias("d")).agg(F.count("*").alias("n"))
        .orderBy("d").collect()
    )
    # rows with NULL ts fall in no window of any tier, so in no unit
    days = [r["d"] for r in per_day if r["d"] is not None]
    day_rows = {r["d"]: r["n"] for r in per_day}
    # bucket k holds the days in the calendar range [anchor + k *
    # bucket_days, anchor + (k + 1) * bucket_days), keyed by its first
    # calendar day, so late rows on a day that had none join their own
    # bucket instead of shifting every later one. The anchor is the
    # earliest committed bucket, or the input's first day on a first run.
    keys = [u.rpartition("-")[2] for u in committed]
    anchor = dt.datetime.strptime(min(keys), "%Y%m%d") if keys else min(days, default=None)
    buckets = {}  # in calendar order, as `days` is sorted
    for d in days:
        start = anchor + dt.timedelta(days=(d - anchor).days // bucket_days * bucket_days)
        buckets.setdefault(start, []).append(d)

    results = {}
    for bi, (start, bucket) in enumerate(buckets.items()):
        key = start.strftime("%Y%m%d")
        rows_in = sum(day_rows[d] for d in bucket)
        units = {tier: f"tier-{tier}-days-{key}" for tier in tiers}
        due = []
        for tier, unit in units.items():
            if resume and log.is_committed(unit, input_rows=rows_in):
                results[tier, bi] = {"unit": unit, "skipped": True}
                if verbose:
                    print(f"{unit}: committed, skipping (resume)")
            else:
                due.append(tier)
        if not due:
            continue
        t0 = time.time()
        windows = Observation()
        out = bucket_rollup(
            df, bucket, rows_in, due, features,
            key_col=key_col, ts_col=ts_col, tiebreak_col=tiebreak_col,
        ).observe(windows, *[F.count_if(F.col("tier") == t).alias(t) for t in due])
        (
            out.withColumn("bucket", F.lit(key)).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("tier", "bucket").parquet(output_path)
        )
        n_out = windows.get
        wall = time.time() - t0
        for tier in due:
            metrics = {
                "windows_out": n_out[tier],
                "rows_in": rows_in,
                "wall_sec": round(wall, 2),
                "points_per_sec": round(rows_in / wall, 1) if wall > 0 else None,
                "features": len(features),
                "n_days": len(bucket),
                "bucket_days": bucket_days,
                # explicit per-day input fingerprint: retention re-validates
                # each day's CURRENT row count against this before dropping
                # it, so late rows appended after the commit block deletion
                # (and a calendar gap day is never claimed covered)
                "day_rows": {d.strftime("%Y%m%d"): day_rows[d] for d in bucket},
            }
            log.commit(units[tier], input_rows=rows_in, metrics=metrics)
            results[tier, bi] = {"unit": units[tier], "skipped": False, **metrics}
            if verbose:
                print(json.dumps({"unit": units[tier], **metrics}))
    return [results[t, bi] for t in tiers for bi in range(len(buckets))]
