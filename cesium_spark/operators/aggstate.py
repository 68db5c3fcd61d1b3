"""Continuous aggregates: mergeable partial states per (series, window).

The incremental-materialization path of the rollup engine (SURVEY.md §2.4
"partial/final aggregation"): new data is aggregated to partial states and
merged into the materialized state table; features finalize from states
without touching raw rows. Only the *mergeable* feature subset lives here
— count/mean/min/max/std/skew/kurtosis/weighted stats/time extents merge
exactly (power sums and extrema are associative); median/MAD/percentile/
peak features are non-mergeable and recompute per window from (bounded)
windowed raw data via the kernel.

Everything is built-in JVM aggregation — this path has no Python at all.
Every aggregate is algebraic (sums / extrema / max_by), so the same
`partial_states` runs on a watermarked stream in append mode too:
``partial_states(stream.withWatermark(ts, delay), "1m")`` is the streaming
head of the cascade, whose coarser tiers roll up batch-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernel import DEFAULT_ERROR_VALUE, SECONDS_PER_DAY, measurement, ts_micros
from .rollup import tier_micros, tier_window

__all__ = [
    "partial_states", "merge_states", "finalize_states", "rollup_states",
    "STATE_COLS",
]

STATE_COLS = [
    "n", "s1", "s2", "s3", "s4", "vmin", "vmax",
    "w_sum", "wx_sum", "wx2_sum", "t_min", "t_max", "t_sum",
    "last_rank_us", "last_rank_idx", "last_value",
]


def partial_states(
    df: DataFrame,
    tier: str | None,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    m: Column | str | None = None,
    e: Column | str | None = None,
) -> DataFrame:
    """Aggregate raw rows to one mergeable state row per (series[, tier
    window]), the tier stamped on window_start as column metadata."""
    e_col = F.col(e) if isinstance(e, str) else e
    if e_col is None:
        e_col = F.lit(DEFAULT_ERROR_VALUE).cast("double")
    t_days = ts_micros(F.col(ts_col)).cast("double") / F.lit(SECONDS_PER_DAY * 1e6)

    sel = [
        F.col(key_col),
        measurement(m).alias("m"),
        e_col.alias("e"),
        t_days.alias("t"),
        ts_micros(F.col(ts_col)).alias("ts_us"),
        F.col(tiebreak_col).cast("long").alias("idx"),
    ]
    keys = [key_col]
    if tier is not None:
        # grouped by the window struct itself: on a watermarked stream it
        # carries the event-time watermark, which append mode needs
        sel.append(F.window(F.col(ts_col), tier_window(tier)).alias("_w"))
        keys.append("_w")

    w = 1.0 / (F.col("e") * F.col("e"))
    rank = F.struct("ts_us", "idx")
    states = (
        df.select(*sel)
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n"),
            F.sum("m").alias("s1"),
            F.sum(F.pow("m", 2)).alias("s2"),
            F.sum(F.pow("m", 3)).alias("s3"),
            F.sum(F.pow("m", 4)).alias("s4"),
            F.min("m").alias("vmin"),
            F.max("m").alias("vmax"),
            F.sum(w).alias("w_sum"),
            F.sum(w * F.col("m")).alias("wx_sum"),
            F.sum(w * F.col("m") * F.col("m")).alias("wx2_sum"),
            F.min("t").alias("t_min"),
            F.max("t").alias("t_max"),
            F.sum("t").alias("t_sum"),
            F.max("ts_us").alias("last_rank_us"),
            F.max_by("idx", rank).alias("last_rank_idx"),
            F.max_by("m", rank).alias("last_value"),
        )
    )
    if tier is None:
        return states
    # the tier rides along as column metadata so rollup_states can refuse
    # a cascade to a non-coarser tier (mislabeled windows are silent data
    # corruption otherwise)
    return states.select(
        key_col,
        F.col("_w.start").alias("window_start", metadata={"tier": tier}),
        *STATE_COLS,
    )


def merge_states(states: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge partial states across windows/batches: sums add, extrema
    combine, last_value follows the max (ts, idx) rank. Associative and
    commutative — safe for incremental MERGE INTO semantics."""
    rank = F.struct("last_rank_us", "last_rank_idx")
    return states.groupBy(*group_cols).agg(
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.sum("s3").alias("s3"),
        F.sum("s4").alias("s4"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.sum("w_sum").alias("w_sum"),
        F.sum("wx_sum").alias("wx_sum"),
        F.sum("wx2_sum").alias("wx2_sum"),
        F.min("t_min").alias("t_min"),
        F.max("t_max").alias("t_max"),
        F.sum("t_sum").alias("t_sum"),
        F.max("last_rank_us").alias("last_rank_us"),
        F.max_by("last_rank_idx", rank).alias("last_rank_idx"),
        F.max_by("last_value", rank).alias("last_value"),
    )


def rollup_states(
    states: DataFrame,
    coarser_tier: str,
    key_col: str = "conv_id",
    fine_tier: str | None = None,
) -> DataFrame:
    """Hierarchical continuous-aggregate cascade: fine-tier partial states
    re-windowed to a coarser tier and merged — the downsample path that
    never re-reads raw rows. 1m states roll to 1h (then 1d) by aggregating
    one row per fine window instead of one per point: at 10^12 turns the
    1h tier materializes from ~60x fewer input rows than a raw re-scan,
    and retention can drop raw data as soon as the FINEST tier commits.

    Valid because the UTC tier grid nests exactly (every 1m window lies in
    one 1h window lies in one 1d window); enforced below by the tier
    widths, for any tier `tier_micros` accepts. Merging is the
    associative state merge, so the cascade is bit-identical to
    aggregating raw rows directly into the coarse tier (tested), modulo
    nothing — sums are the same sums.
    """
    fine_ws = "window_start"
    if fine_ws not in states.columns:
        raise ValueError("states must carry window_start (tiered partials)")
    coarse_us = tier_micros(coarser_tier)
    # the input tier comes from window_start's column metadata (stamped by
    # partial_states / a prior rollup_states) or the explicit fine_tier
    # argument; rolling to a non-strictly-coarser tier would silently tag
    # whole-day sums as hourly windows, so it raises
    in_tier = fine_tier or states.schema[fine_ws].metadata.get("tier")
    if in_tier is not None:
        fine_us = tier_micros(in_tier)
        if coarse_us <= fine_us or coarse_us % fine_us != 0:
            raise ValueError(
                f"cannot roll {in_tier!r} states up to {coarser_tier!r}: "
                f"target must be a strictly coarser multiple of the input "
                f"tier (got {fine_us // 10**6}s -> {coarse_us // 10**6}s)"
            )
    coarse = F.window(F.col(fine_ws), tier_window(coarser_tier)).start
    restated = states.withColumn("_cw", coarse).drop(fine_ws)
    merged = merge_states(
        restated.withColumnRenamed("_cw", "window_start"),
        [key_col, "window_start"],
    )
    return merged.withMetadata("window_start", {"tier": coarser_tier})


def finalize_states(states: DataFrame, keep_cols: list[str]) -> DataFrame:
    """Feature columns from merged states (names match the kernel registry).

    std/skew/kurtosis from power sums; variance guarded at >= 0 against
    cancellation. Matches numpy two-pass values to ~1e-9 relative — the
    exact kernel remains the source of truth where bit-equality is
    required (SURVEY.md §7 risk 1).
    """
    n = F.col("n").cast("double")
    mean = F.col("s1") / n
    m2 = F.greatest(F.col("s2") / n - mean * mean, F.lit(0.0))
    m3 = F.col("s3") / n - 3 * mean * F.col("s2") / n + 2 * F.pow(mean, 3)
    m4 = (
        F.col("s4") / n
        - 4 * mean * F.col("s3") / n
        + 6 * mean * mean * F.col("s2") / n
        - 3 * F.pow(mean, 4)
    )
    wmean = F.col("wx_sum") / F.col("w_sum")
    wvar = F.greatest(F.col("wx2_sum") / F.col("w_sum") - wmean * wmean, F.lit(0.0))
    return states.select(
        *keep_cols,
        n.alias("n_epochs"),
        mean.alias("mean"),
        F.col("vmin").alias("minimum"),
        F.col("vmax").alias("maximum"),
        ((F.col("vmax") - F.col("vmin")) / 2.0).alias("amplitude"),
        F.sqrt(m2).alias("std"),
        F.when(m2 > 0, m3 / F.pow(m2, 1.5)).alias("skew"),
        F.when(m2 > 0, m4 / (m2 * m2) - 3.0).alias("kurtosis"),
        wmean.alias("weighted_average"),
        F.sqrt(wvar).alias("weighted_std_dev"),
        (F.col("t_max") - F.col("t_min")).alias("total_time"),
        (F.col("t_sum") / n).alias("avgt"),
        F.col("last_value").alias("last_value"),
    )
