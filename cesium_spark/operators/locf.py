"""Gap-fill via last-observation-carried-forward onto a dense tier grid.

cesium never fills gaps (it featurizes irregular sampling directly); LOCF
is the rollup engine's own north-rule requirement: the regularized tier
grid carries the last observed value through empty windows, flagged
``filled`` so downstream consumers can distinguish observation from fill.

Physical plan: one JVM aggregation to per-window last-values, a
``sequence()`` explode to densify (no Python), then a single
``last(ignorenulls) over (partition by series order by grid)`` window —
three narrow stages, one shuffle on the series key, no UDFs.

Scale note: the dense grid size is (span / tier width) per series. For
1m tiers over years-long conversations, bound the densified range by
filtering the tier horizon first (retention: raw below the horizon is
dropped after rollup commit) — pass ``horizon`` to cap it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..kernel import measurement, ts_micros
from .rollup import tier_micros, tier_window

__all__ = ["locf_grid", "interpolate_grid"]


def _per_window_grid(df, tier, key_col, ts_col, tiebreak_col, value, horizon):
    """Shared head of both gap-fillers: per-window last values under the
    deterministic (ts, tiebreak) rank, plus the dense tier grid spanning
    each series' OBSERVED range (first to last observed window — the
    grid never extends past the data; gap-fill is not extrapolation)."""
    step = tier_micros(tier) // 10**6
    if horizon is not None:
        df = df.filter(F.col(ts_col).between(*horizon))

    # last observation per (series, window), ordered by (ts, tiebreak):
    # max_by over a deterministic composite rank — pure JVM aggregation.
    rank = F.struct(F.col(ts_col), F.col(tiebreak_col).cast("long"))
    bucket = F.window(F.col(ts_col), tier_window(tier)).start
    per_window = (
        df.select(
            F.col(key_col),
            bucket.alias("grid_ts"),
            measurement(value).alias("v"),
            rank.alias("r"),
        )
        .groupBy(key_col, "grid_ts")
        .agg(F.max_by("v", "r").alias("window_last"))
    )

    # dense grid: sequence(min, max, step) per series, exploded JVM-side
    spans = per_window.groupBy(key_col).agg(
        F.min("grid_ts").alias("g0"), F.max("grid_ts").alias("g1")
    )
    grid = spans.select(
        key_col,
        F.explode(
            F.sequence("g0", "g1", F.expr(f"INTERVAL {step} SECONDS"))
        ).alias("grid_ts"),
    )
    return per_window, grid


def locf_grid(
    df: DataFrame,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    value: Column | str | None = None,
    horizon: tuple[str, str] | None = None,
) -> DataFrame:
    """Dense per-series grid at `tier` with LOCF-filled last values.

    Output: (key, grid_ts, locf_value, filled) where `filled` marks grid
    slots with no observation in their window. The carried value is the
    window's *last* observation under stable (ts, tiebreak) ordering.
    """
    per_window, grid = _per_window_grid(
        df, tier, key_col, ts_col, tiebreak_col, value, horizon
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("grid_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per_window, [key_col, "grid_ts"], "left")
        .select(
            key_col,
            "grid_ts",
            F.last("window_last", ignorenulls=True).over(w).alias("locf_value"),
            F.col("window_last").isNull().alias("filled"),
        )
    )


def interpolate_grid(
    df: DataFrame,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    value: Column | str | None = None,
    horizon: tuple[str, str] | None = None,
) -> DataFrame:
    """Dense per-series grid at `tier` with LINEAR interpolation across
    gaps (TimescaleDB's ``interpolate()`` counterpart to LOCF).

    Output: (key, grid_ts, interp_value, filled). Observed windows keep
    their last-observation value; gap slots between two observed windows
    get the time-weighted linear blend. The grid spans each series'
    OBSERVED range only (first to last observed window) — there are no
    leading/trailing slots and no extrapolation; interp_value is NULL
    only when the value column itself held NULL observations on a side.

    Same physical shape as locf_grid: one JVM aggregation, one grid
    explode, then two frame-bounded window carries (previous observed
    value/ts and next observed value/ts) — one shuffle on the series
    key, no UDFs, no joins beyond the grid alignment."""
    per_window, grid = _per_window_grid(
        df, tier, key_col, ts_col, tiebreak_col, value, horizon
    )
    back = (
        Window.partitionBy(key_col)
        .orderBy("grid_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy(key_col)
        .orderBy("grid_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_us = F.when(
        F.col("window_last").isNotNull(), ts_micros(F.col("grid_ts"))
    )
    joined = grid.join(per_window, [key_col, "grid_ts"], "left").select(
        key_col,
        "grid_ts",
        "window_last",
        F.last("window_last", ignorenulls=True).over(back).alias("_pv"),
        F.last(obs_us, ignorenulls=True).over(back).alias("_pt"),
        F.first("window_last", ignorenulls=True).over(fwd).alias("_nv"),
        F.first(obs_us, ignorenulls=True).over(fwd).alias("_nt"),
    )
    # symmetric lerp (pv*(nt-t) + nv*(t-pt)) / (nt-pt): the oracle SQL
    # uses the IDENTICAL association, so both engines produce the same
    # float bit pattern — a mixed form (division first on one side,
    # multiply first on the other) differs by ~1 ulp and can flip the
    # rounded cross-engine hash on values that straddle a boundary
    t_us = ts_micros(F.col("grid_ts"))
    interp = (
        F.when(F.col("window_last").isNotNull(), F.col("window_last"))
        .when(
            F.col("_pv").isNotNull() & F.col("_nv").isNotNull(),
            (
                F.col("_pv") * (F.col("_nt") - t_us)
                + F.col("_nv") * (t_us - F.col("_pt"))
            )
            / (F.col("_nt") - F.col("_pt")),
        )
    )
    return joined.select(
        key_col,
        "grid_ts",
        interp.alias("interp_value"),
        F.col("window_last").isNull().alias("filled"),
    )
