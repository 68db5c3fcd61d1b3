"""Mann-Kendall trend test over per-actor hourly series.

The standard non-parametric monotonic-trend test (Mann 1945, Kendall
1975; the estimator half of the pair is operators/robust.theil_sen):
S = sum over ordered pairs of sign(x_j - x_i), tie-corrected variance
Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18, and the
continuity-corrected z = (S -/+ 1)/sqrt(Var(S)). |z| > 1.96 calls the
trend at the usual 5% two-sided level.

Scale design: the pairwise relation is intrinsically O(n^2) per
series, so the test runs on the HOURLY GRID (one partial-aggregable
groupBy collapses raw events first) — n is bounded by the time span
in hours, never by event volume, the same discipline as theil_sen and
leadlag_xcorr. The self-join is an equi-join on the series key
(co-partitioned, AQE-sized); tie groups and the count come from two
more grid-sized aggregates. No Python, no window over raw events.

Cross-engine determinism: grid means are rounded half-up at 6
decimals BEFORE any sign comparison, so both engines compare the
identical doubles; z is computed from exact integer S and the exact
double Var(S) (integer-arithmetic numerator / 18.0) and rounded at 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .longmem import _hourly_grid, _r6

__all__ = ["mann_kendall", "mann_kendall_from_grid", "rolling_slope",
           "rolling_slope_from_grid", "seasonal_mann_kendall",
           "poisson_trend", "prewhitened_mann_kendall"]

_Z_CRIT = 1.96


def mann_kendall(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key Mann-Kendall trend readout on the hourly mean grid.

    Returns (key..., n, s_stat, var_s, z, trend) where n is the number
    of grid hours, s_stat the exact integer Kendall S, var_s the
    tie-corrected variance, z the continuity-corrected statistic
    (0.0 when var_s = 0, e.g. an all-tied or single-point series), and
    trend in {'increasing', 'decreasing', 'none'} at |z| > 1.96.
    """
    grid = _hourly_grid(df, list(key_cols), ts_col, value_col)
    return mann_kendall_from_grid(grid, key_cols)


def mann_kendall_from_grid(
    grid: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """The test itself, over any (key..., h, x) grid relation — public
    so the streaming head (mergeable per-hour sum/count state) and the
    batch operator share one implementation; x must already carry the
    6-decimal rounding that makes sign comparisons engine-stable."""
    gcols = list(key_cols)
    a, b = grid.alias("a"), grid.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in gcols]
    pairs = (
        a.join(b, cond + [F.col("b.h") > F.col("a.h")])
        .groupBy(*[F.col(f"a.{c}").alias(c) for c in gcols])
        .agg(F.sum(F.signum(F.col("b.x") - F.col("a.x")))
             .cast("long").alias("s_stat"))
    )
    ties = (
        grid.groupBy(*gcols, "x").agg(F.count("*").alias("t"))
        .groupBy(*gcols)
        .agg(F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
             .cast("long").alias("tie_term"))
    )
    base = grid.groupBy(*gcols).agg(F.count("*").cast("long").alias("n"))

    n = F.col("n")
    var_raw = (n * (n - 1) * (2 * n + 5) - F.col("tie_term")) / F.lit(18.0)
    s = F.col("s_stat")
    z_raw = (
        F.when(var_raw > 0,
               F.when(s > 0, (s - 1) / F.sqrt(var_raw))
               .when(s < 0, (s + 1) / F.sqrt(var_raw))
               .otherwise(F.lit(0.0)))
        .otherwise(F.lit(0.0))
    )
    z = _r6(z_raw)
    return (
        base.join(pairs, gcols, "left").join(ties, gcols, "left")
        .select(
            *gcols, "n",
            F.coalesce(s, F.lit(0)).cast("long").alias("s_stat"),
            _r6(var_raw).alias("var_s"),
            z.alias("z"),
            F.when(z > _Z_CRIT, F.lit("increasing"))
            .when(z < -_Z_CRIT, F.lit("decreasing"))
            .otherwise(F.lit("none")).alias("trend"),
        )
    )


def seasonal_mann_kendall(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch & Slack 1984, the
    independent-seasons form) per key on the hourly mean grid with
    hour-of-day seasons: the plain MK statistic is confounded by a
    diurnal cycle (every morning ramp counts as "trend"), so S and
    Var(S) are computed WITHIN each of the 24 hour-of-day strata —
    comparing 9am only against other 9ams — and summed:
    S' = sum_g S_g, Var' = sum_g Var_g(S), z continuity-corrected on
    the totals. Seasons with a single grid point contribute 0 to both.

    Scale: strictly cheaper than plain mann_kendall — the pair join
    runs within (key, hour-of-day) strata, so the quadratic term is
    sum_g n_g^2 ~ n^2/24 instead of n^2, still bounded by the time
    span, never event volume. Reuses mann_kendall_from_grid verbatim
    with the season as an extra key column; per-season var_s is
    rounded (the shared tail's contract), so the summed total is the
    identical double in both engines.

    Returns (key..., n, n_seasons, s_stat, var_s, z, trend).
    """
    gcols = list(key_cols)
    grid = _hourly_grid(df, gcols, ts_col, value_col) \
        .withColumn("season", F.hour("h"))
    per_season = mann_kendall_from_grid(
        grid, key_cols=tuple(gcols) + ("season",))
    tot = per_season.groupBy(*gcols).agg(
        F.sum("n").cast("long").alias("n"),
        F.count("*").cast("int").alias("n_seasons"),
        F.sum("s_stat").cast("long").alias("s_stat"),
        F.sum("var_s").alias("var_s"),
    )
    s, v = F.col("s_stat"), F.col("var_s")
    z_raw = (
        F.when(v > 0,
               F.when(s > 0, (s - 1) / F.sqrt(v))
               .when(s < 0, (s + 1) / F.sqrt(v))
               .otherwise(F.lit(0.0)))
        .otherwise(F.lit(0.0))
    )
    z = _r6(z_raw)
    return tot.select(
        *gcols, "n", "n_seasons", "s_stat", _r6(v).alias("var_s"),
        z.alias("z"),
        F.when(z > _Z_CRIT, F.lit("increasing"))
        .when(z < -_Z_CRIT, F.lit("decreasing"))
        .otherwise(F.lit("none")).alias("trend"),
    )


def prewhitened_mann_kendall(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Pre-whitened Mann-Kendall (Yue & Pilon et al. 2002): positive
    serial correlation inflates plain MK's S variance and produces
    false trend calls — exactly the failure mode effective_sample_size
    quantifies. The fix: estimate the lag-1 autocorrelation r1 of the
    hourly mean grid (the biased Box-Jenkins estimator acf_lags uses),
    remove it (y_t = x_t - r1 * x_{t-1}, dropping the first point),
    and run the SHARED mann_kendall_from_grid tail on the residual
    series.

    Determinism: r1 and every residual are rounded at 6 before the
    tail's sign comparisons (the from_grid contract). Same scale shape
    as mann_kendall plus one lag window. Returns
    (key..., r1, n, s_stat, var_s, z, trend) where n counts RESIDUAL
    grid points.
    """
    from pyspark.sql import Window

    gcols = list(key_cols)
    grid = _hourly_grid(df, gcols, ts_col, value_col)
    w = Window.partitionBy(*gcols).orderBy("h")
    lagged = grid.select(*gcols, "h", "x",
                         F.lag("x", 1).over(w).alias("_xp"))
    pair = F.col("_xp").isNotNull()
    stats = lagged.groupBy(*gcols).agg(
        F.count("*").alias("_n"),
        F.sum("x").alias("_sx"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
        F.sum(F.when(pair, F.col("x") * F.col("_xp"))).alias("_sp"),
        F.sum(F.when(pair, F.col("x"))).alias("_scur"),
        F.sum(F.when(pair, F.col("_xp"))).alias("_slag"),
        F.count(F.when(pair, 1)).alias("_c"),
    )
    m = F.col("_sx") / F.col("_n")
    den = F.col("_sxx") - F.col("_n") * m * m
    r1 = F.when(
        (den > 0) & (F.col("_c") > 0),
        _r6((F.col("_sp") - m * F.col("_scur") - m * F.col("_slag")
             + F.col("_c") * m * m) / den),
    ).otherwise(F.lit(0.0))
    r1_rel = stats.select(*gcols, r1.alias("r1"))
    resid = (
        lagged.join(r1_rel, gcols)
        .where(pair)
        .select(*gcols, "h",
                _r6(F.col("x") - F.col("r1") * F.col("_xp")).alias("x"))
    )
    out = mann_kendall_from_grid(resid, key_cols=tuple(gcols))
    return r1_rel.join(out, gcols, "left").select(
        *gcols, "r1",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.col("s_stat"), F.lit(0)).cast("long").alias("s_stat"),
        "var_s", "z",
        F.coalesce(F.col("trend"), F.lit("none")).alias("trend"),
    )


def poisson_trend(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    iters: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Poisson GLM rate trend per series: log lambda = a + b*t fitted
    by IRLS on the zero-filled hourly COUNT grid (t in days since the
    series' first hour) — the count-model-correct trend test beside
    the nonparametric Mann-Kendall and the Gaussian rolling OLS: for
    rate data the variance scales with the mean, and the GLM weights
    each hour accordingly instead of letting busy hours dominate.

    IRLS (the standard Fisher-scoring iteration): with eta = a + b t,
    w = exp(eta), working response z = eta + (y - w)/w, each iteration
    solves the w-weighted least squares in closed form from five
    grid-sized partial-aggregable sums. (a, b) are rounded at
    `round_digits` after EVERY iteration (the kmeans oracle-replay
    discipline), so a DuckDB chained-CTE replay reproduces the fit
    hash-exactly; both engines' code is generated from one loop.

    Returns (key, n_hours, rate_ratio_per_day = exp(b), b, z, trend,
    dispersion) where z = b / se with se from the final iteration's
    Fisher information, trend calls {'increasing','decreasing','none'}
    at |z| > 1.96, and dispersion is the Pearson X^2/(n-2) computed at
    the final iteration's entering fit — ~1 when the Poisson variance
    assumption holds, >> 1 flags overdispersion (the z call is then
    anti-conservative; prefer mann_kendall). Series with a single grid
    hour or a degenerate information matrix emit NULLs and
    'insufficient'.
    """
    from .symbolic import hourly_count_grid

    rd = round_digits
    g = hourly_count_grid(df, key_col, ts_col).select(
        F.col("_k").alias(key_col),
        (F.col("_i") / F.lit(24.0)).alias("_t"),
        F.col("_y").alias("_y"),
    )
    # init: a = ln(mean y + 1e-9), b = 0  (mean of a count grid)
    params = g.groupBy(key_col).agg(
        F.round(F.log(F.avg("_y") + F.lit(1e-9)) + F.lit(1e-9), rd)
        .alias("_a"),
        F.lit(0.0).alias("_b"),
        F.count("*").cast("long").alias("n_hours"),
    )

    sums = None
    for k in range(int(iters)):
        j = g.join(params.select(key_col, "_a", "_b"), key_col)
        eta = F.col("_a") + F.col("_b") * F.col("_t")
        w = F.exp(eta)
        zv = eta + (F.col("_y") - w) / w
        last = k == int(iters) - 1
        sums = j.groupBy(key_col).agg(
            F.sum(w).alias("_sw"),
            F.sum(w * F.col("_t")).alias("_swt"),
            F.sum(w * zv).alias("_swz"),
            F.sum(w * F.col("_t") * F.col("_t")).alias("_swtt"),
            F.sum(w * F.col("_t") * zv).alias("_swtz"),
            # Pearson X^2 at the entering params — on the last
            # iteration this is the dispersion check's numerator
            *([F.sum((F.col("_y") - w) * (F.col("_y") - w) / w)
               .alias("_x2")] if last else []),
        )
        den = F.col("_swtt") - F.col("_swt") * F.col("_swt") / F.col("_sw")
        b_new = F.when(
            F.round(den + F.lit(1e-9), rd) > 0,
            F.round((F.col("_swtz")
                     - F.col("_swt") * F.col("_swz") / F.col("_sw")) / den
                    + F.lit(1e-9), rd),
        )
        a_new = F.round(F.col("_swz") / F.col("_sw")
                        - b_new * F.col("_swt") / F.col("_sw")
                        + F.lit(1e-9), rd)
        sel = [key_col, b_new.alias("_b"), a_new.alias("_a"),
               F.round(den + F.lit(1e-9), rd).alias("_den")]
        if last:
            sel.append(F.col("_x2").alias("_x2"))
        params = params.select(key_col, "n_hours").join(
            sums.select(*sel), key_col, "left")

    r = lambda c: F.round(c + F.lit(1e-9), rd)  # noqa: E731
    ok = F.col("_b").isNotNull() & (F.col("_den") > 0)
    se = F.lit(1.0) / F.sqrt(F.col("_den"))
    z = F.when(ok, r(F.col("_b") / se))
    return params.select(
        key_col, "n_hours",
        F.when(ok, r(F.exp(F.col("_b")))).alias("rate_ratio_per_day"),
        F.col("_b").alias("b"),
        z.alias("z"),
        F.when(~ok, F.lit("insufficient"))
        .when(z > _Z_CRIT, F.lit("increasing"))
        .when(z < -_Z_CRIT, F.lit("decreasing"))
        .otherwise(F.lit("none")).alias("trend"),
        # Pearson dispersion X^2/(n-2): ~1 when the Poisson variance
        # assumption holds; >> 1 flags overdispersion (the trend call
        # is then anti-conservative — use MK instead)
        F.when(ok & (F.col("n_hours") > 2),
               r(F.col("_x2") / (F.col("n_hours") - 2)))
        .alias("dispersion"),
    )


def rolling_slope(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    window_hours: int = 24,
    min_obs: int = 12,
    round_digits: int = 6,
) -> DataFrame:
    """Rolling OLS trend slope per series: the least-squares slope of
    the hourly-mean grid over a trailing `window_hours` RANGE frame —
    the local-trend companion to the global mann_kendall/theil_sen
    pair (units: value per hour).

    Scale design: raw events collapse to the hourly grid in ONE
    partial-aggregable groupBy; the window runs over the GRID (rows
    bounded by span-hours x keys, never event volume) with a RANGE
    frame on the integer hour index, so calendar gaps shorten the
    frame instead of silently widening it. Closed form from four
    frame sums: slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2).

    Cross-engine determinism: x is the hour index RELATIVE TO THE
    SERIES' FIRST HOUR — small integers, so every x-only frame sum
    (Sx, Sxx, n) is EXACT in doubles in both engines; y is the grid
    mean rounded half-up at 6 decimals before the frame sums, leaving
    only ulp-level association noise in Sxy/Sy, absorbed by the final
    round-at-6 (+1e-9 guard)."""
    hour_idx = (F.unix_micros(F.date_trunc("hour", F.col(ts_col)))
                / F.lit(3600e6)).cast("long")
    grid = (
        df.select(F.col(key_col), hour_idx.alias("h"),
                  F.col(value_col).alias("_v"))
        .groupBy(key_col, "h")
        .agg(_r6(F.avg("_v")).alias("y"))
    )
    return rolling_slope_from_grid(
        grid, key_col=key_col, window_hours=window_hours,
        min_obs=min_obs, round_digits=round_digits,
    )


def rolling_slope_from_grid(
    grid: DataFrame,
    key_col: str = "event_type",
    window_hours: int = 24,
    min_obs: int = 12,
    round_digits: int = 6,
) -> DataFrame:
    """The grid tail of rolling_slope, shared with the streaming head:
    `grid` is (key, h = integer hour index, y = rounded hourly mean) —
    exactly what streaming/stream.grid_state merges from micro-batch
    partials, so streamed == batch is structural."""
    from pyspark.sql.window import Window

    wk = Window.partitionBy(key_col)
    grid = grid.withColumn("x", F.col("h") - F.min("h").over(wk))
    wf = (
        Window.partitionBy(key_col).orderBy("x")
        .rangeBetween(-(window_hours - 1), 0)
    )
    xd = F.col("x").cast("double")
    n = F.count("*").over(wf).cast("double")
    sx = F.sum(xd).over(wf)
    sy = F.sum("y").over(wf)
    sxx = F.sum(xd * xd).over(wf)
    sxy = F.sum(xd * F.col("y")).over(wf)
    den = n * sxx - sx * sx
    slope = F.when(den > 0, (n * sxy - sx * sy) / den)
    return (
        grid.select(
            F.col(key_col),
            F.timestamp_seconds(F.col("h") * 3600).alias("hour"),
            n.cast("long").alias("n_obs"),
            _r6(slope).alias("slope"),
        )
        .where(F.col("n_obs") >= min_obs)
    )
