"""Time-weighted average per tier window (TimescaleDB's ``time_weight
('LOCF')`` counterpart): each observation is weighted by how long its
value was held, so irregular sampling doesn't bias the mean toward
burst periods — the right "average" for state-like measurements
(queue depth, context length, price marks) where plain avg() weights
by event COUNT, not by time.

Semantics (LOCF weighting over the window's own observations):
  twa = sum_i v_i * (t_{i+1} - t_i) / (t_n - t_1)   for i < n,
with observations ordered by the deterministic (ts, tiebreak) rank;
a single-observation window (zero total hold) degenerates to that
value. Holds do NOT extend across window boundaries — each window is
self-contained, which keeps the aggregate mergeable-by-recompute and
the oracle exactly expressible.

Physical shape: one lead() window function + one aggregation, both on
the same (series, window) partitioning — ONE shuffle, all JVM, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..kernel import measurement, ts_micros
from .rollup import tier_window

__all__ = ["time_weighted_avg"]


def time_weighted_avg(
    df: DataFrame,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    value: Column | str | None = None,
) -> DataFrame:
    """(key, window_start, twa, n_points): LOCF-time-weighted mean of
    `value` per tier window (see module docstring for the exact
    semantics)."""
    bucket = F.window(F.col(ts_col), tier_window(tier)).start
    rows = df.select(
        F.col(key_col),
        bucket.alias("window_start"),
        ts_micros(F.col(ts_col)).alias("t_us"),
        F.col(tiebreak_col).cast("long").alias("tb"),
        measurement(value).alias("v"),
    )
    w = Window.partitionBy(key_col, "window_start").orderBy("t_us", "tb")
    held = rows.select(
        key_col,
        "window_start",
        "v",
        "tb",
        (F.lead("t_us").over(w) - F.col("t_us")).alias("hold_us"),
        F.col("t_us"),
    )
    agg = held.groupBy(key_col, "window_start").agg(
        F.sum(F.col("v") * F.col("hold_us")).alias("_wsum"),
        (F.max("t_us") - F.min("t_us")).alias("_span"),
        F.count("*").alias("n_points"),
        # degenerate (zero-span) fallback: the LAST value under the
        # deterministic rank — never first() (partition-order dependent)
        F.max_by("v", F.struct("t_us", "tb")).alias("_last_v"),
    )
    twa = F.when(F.col("_span") > 0, F.col("_wsum") / F.col("_span")).otherwise(
        F.col("_last_v")
    )
    return agg.select(key_col, "window_start", twa.alias("twa"), "n_points")
