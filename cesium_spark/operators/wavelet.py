"""Haar multi-resolution energy decomposition over per-actor hourly
series.

The classic wavelet variance view of a time series: at dyadic level k
(block width 2^k grid steps), the detail coefficient of each block is
d = (mean(left half) - mean(right half)) / 2 * 2^(k/2) and the level's
energy is sum(d^2) — a scale-by-scale decomposition of variability
(Percival & Walden 2000, ch. 8's MODWT variance without the circular
wrap; a per-level view the ACF/periodogram diagnostics in tsstats
don't give: WHERE the variance lives across time scales).

Scale design: raw events collapse to the hourly mean grid first (one
partial-aggregable groupBy), positions come from one bounded window
(row_number per key over the grid), then a LEVELS-fold explode of the
grid feeds one (key, level, block) aggregate — total work is
levels x grid size, never levels x event volume. Half-means are
conditional aggregates in the same pass; no Python, no self-join.

Partial trailing blocks use present-value half-means; a block whose
right half has no data contributes zero detail (the boundary rule
that keeps energy additive as the series grows).

Cross-engine determinism: grid means and half-means are rounded
half-up at 6 decimals before differencing; the 2^(k/2) factor is the
same IEEE double in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .longmem import _hourly_grid, _r6

__all__ = ["haar_energy", "haar_details", "haar_compress_profile"]


def haar_details(
    df: DataFrame,
    levels: int = 3,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """The per-(key, level, block) Haar detail coefficient relation —
    the shared substrate of haar_energy and haar_compress_profile.
    Bounded by levels x grid blocks."""
    gcols = list(key_cols)
    grid = _hourly_grid(df, gcols, ts_col, value_col)
    w = Window.partitionBy(*gcols).orderBy("h")
    gi = grid.select(
        *gcols, "x", (F.row_number().over(w) - 1).cast("long").alias("idx")
    )
    lv = gi.select(
        *gcols, "x", "idx",
        F.explode(F.sequence(F.lit(1), F.lit(int(levels)))).alias("level"),
    )
    blk_w = F.pow(F.lit(2.0), F.col("level"))
    half_w = F.pow(F.lit(2.0), F.col("level") - 1)
    placed = lv.select(
        *gcols, "level", "x",
        F.floor(F.col("idx") / blk_w).cast("long").alias("block"),
        (F.floor(F.col("idx") / half_w).cast("long") % 2).alias("half"),
    )
    halves = placed.groupBy(*gcols, "level", "block").agg(
        _r6(F.avg(F.when(F.col("half") == 0, F.col("x")))).alias("ml"),
        _r6(F.avg(F.when(F.col("half") == 1, F.col("x")))).alias("mr"),
    )
    d = (
        F.when(F.col("ml").isNull() | F.col("mr").isNull(), F.lit(0.0))
        .otherwise((F.col("ml") - F.col("mr")) / 2.0
                   * F.pow(F.lit(2.0), F.col("level") / F.lit(2.0)))
    )
    return halves.select(*gcols, "level", "block", d.alias("d"))


def haar_energy(
    df: DataFrame,
    levels: int = 3,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key Haar detail energy at levels 1..levels.

    Returns (key..., level, n_blocks, energy): n_blocks counts the
    dyadic blocks the key's grid spans at that level, energy the sum
    of squared detail coefficients.
    """
    gcols = list(key_cols)
    return (
        haar_details(df, levels, key_cols, ts_col, value_col)
        .groupBy(*gcols, "level")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            _r6(F.sum(F.col("d") * F.col("d"))).alias("energy"),
        )
    )


def haar_compress_profile(
    df: DataFrame,
    levels: int = 3,
    energy_target: float = 0.95,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Wavelet compressibility readout per series: sort each key's
    detail coefficients by energy (d^2 desc, ties by (level, block)
    asc) and report how few carry the signal — k_target = the smallest
    coefficient count reaching energy_target of total detail energy,
    plus the energy fraction captured by the top 8. A series that
    needs few coefficients is wavelet-compressible (smooth + a few
    transients); one that needs most of them is noise-dominated — the
    route/don't-route signal for transform coding, complementing the
    Gorilla codec's delta-based path.

    Plan: everything downstream of the detail relation is
    levels x blocks sized — one window cumsum over it per key, then a
    key-sized aggregate. Zero-energy series (flat) report k_target = 0
    and fraction 1.0 by convention.

    Returns (key..., n_coeffs, total_energy, k_target, top8_frac).
    """
    gcols = list(key_cols)
    det = haar_details(df, levels, key_cols, ts_col, value_col).select(
        *gcols, "level", "block",
        _r6(F.col("d") * F.col("d")).alias("e2"),
    )
    w = Window.partitionBy(*gcols).orderBy(
        F.col("e2").desc(), F.col("level").asc(), F.col("block").asc())
    ranked = det.select(
        *gcols, "e2",
        F.row_number().over(w).alias("rk"),
        F.sum("e2").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    ).withColumn(
        # the ordered cumsum's max IS the total (e2 >= 0) — and unlike a
        # bare partition sum its addition ORDER is pinned by the rank
        # order, so both engines produce the identical double
        "tot", F.max("cum").over(Window.partitionBy(*gcols)),
    )
    target_hit = (F.col("tot") > 0) & (
        F.col("cum") >= F.lit(float(energy_target)) * F.col("tot"))
    return (
        ranked.groupBy(*gcols)
        .agg(
            F.count("*").cast("long").alias("n_coeffs"),
            _r6(F.max("tot")).alias("total_energy"),
            F.coalesce(
                F.min(F.when(target_hit, F.col("rk"))), F.lit(0)
            ).cast("long").alias("k_target"),
            _r6(
                F.when(F.max("tot") > 0,
                       F.max(F.when(F.col("rk") <= 8, F.col("cum")))
                       / F.max("tot"))
                .otherwise(F.lit(1.0))
            ).alias("top8_frac"),
        )
    )
