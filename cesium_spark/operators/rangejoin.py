"""Range (interval) join: points joined to the time intervals containing
them, per series key — without the cartesian a naive theta-join plans.

Strategy: bucket both sides on the tier grid. Each interval explodes to
the tier buckets it overlaps (bounded fan-out: ceil(interval/tier) + 1);
each point lands in exactly one bucket, so every qualifying (point,
interval) pair is generated exactly once by the (key, bucket) EQUI-join
and verified with the range predicate. This is the standard interval-
bucketing rewrite (Spark has no native range-join optimization without
vendor extensions); pick `tier` near the typical interval length — too
coarse inflates candidates per bucket, too fine inflates the interval
explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import ts_micros
from .rollup import tier_micros

__all__ = ["interval_join"]


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    tier: str = "1h",
) -> DataFrame:
    """Pairs (point row, interval row) where point.ts is in
    [start, end) and keys match. Output: all point columns + all interval
    columns except the key (half-open end, the tier-window convention).
    Degenerate intervals (end <= start) are empty under half-open
    semantics and match no points."""
    width = F.lit(tier_micros(tier))

    def bucket(us):
        # floor(us / width) in integers: the index of the tier window
        return ((us - F.pmod(us, width)) / width).cast("long")

    p_bucket = bucket(ts_micros(F.col(ts_col)))
    i_start = bucket(ts_micros(F.col(start_col)))
    # buckets the interval overlaps: sequence is inclusive, and end is
    # exclusive, so stop at the bucket containing (end - 1us)
    i_stop = bucket(ts_micros(F.col(end_col)) - 1)
    # degenerate intervals (end <= start) contain no point under the
    # half-open semantics — drop them up front, so that sequence() never
    # counts down over buckets the interval does not overlap
    intervals = intervals.filter(F.col(end_col) > F.col(start_col))
    ivl = intervals.select(
        F.col(key_col).alias("_k"),
        F.explode(F.sequence(i_start, i_stop)).alias("_bucket"),
        *[F.col(c) for c in intervals.columns if c != key_col],
    )
    pts = points.select(
        F.col(key_col), p_bucket.alias("_bucket"),
        *[F.col(c) for c in points.columns if c != key_col],
    )
    return (
        pts.join(ivl, (pts[key_col] == ivl["_k"]) & (pts["_bucket"] == ivl["_bucket"]))
        .filter((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col)))
        .drop("_k", "_bucket")
    )
