"""Long-memory / random-walk diagnostics over per-actor hourly series:
rescaled-range (R/S) Hurst exponent and the Lo-MacKinlay variance-ratio
test.

These extend the grid family (`operators/trend.py` Mann-Kendall,
Theil-Sen, rolling OLS) with the two classic "what KIND of process is
this series" readouts: the Hurst exponent H (Hurst 1951; Mandelbrot &
Wallis 1969 R/S analysis) separates anti-persistent (H < 0.5) /
random-walk (H ~ 0.5) / long-memory trending (H > 0.5) behavior, and
the variance ratio VR(q) (Lo & MacKinlay 1988) tests the random-walk
null directly from the ratio of q-step to 1-step increment variances.

Scale design — the same discipline as `mann_kendall`: both tests run
on the HOURLY MEAN GRID (one partial-aggregable groupBy collapses raw
events first), so all per-series relations are bounded by the time
span in hours, never by event volume. The R/S block relation is
grid x len(sizes) rows from one bounded explode; every aggregate is
partial-aggregable; no Python, no self-join, no collect. Both
`*_from_grid` tails are public so the streaming head (the mergeable
per-(actor, hour) sum/count state of `streaming/stream.py
grid_batch_fn` — the grid family's sufficient statistic) shares the
exact batch implementation.

Cross-engine determinism (the repo discipline): grid means are rounded
half-up at 6 decimals before anything else; every INCLUSION decision
(block variance > 0, R/S > 0 for the log regression) is made on a
ROUNDED value both engines share; ordered prefix sums pin float
addition order where it matters (the cumulative-deviation path); all
emitted doubles are round(x + 1e-9, 6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "hurst_rs", "hurst_from_grid", "variance_ratio",
    "variance_ratio_from_grid", "dfa_alpha",
]

_EPS = 1e-9
_Z_CRIT = 1.96
_DEFAULT_SIZES = (8, 16, 32, 64)


def _r6(c: Column) -> Column:
    return F.round(c + F.lit(_EPS), 6)


def _hourly_grid(df: DataFrame, key_cols, ts_col: str,
                 value_col: str) -> DataFrame:
    """(key..., h, x): each key's mean value per hour, rounded at 6 —
    the grid the trend, wavelet and long-memory readouts share."""
    return (
        df.groupBy(*key_cols, F.date_trunc("hour", F.col(ts_col)).alias("h"))
        .agg(_r6(F.avg(F.col(value_col).cast("double"))).alias("x"))
    )


def hurst_rs(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    sizes: tuple[int, ...] = _DEFAULT_SIZES,
) -> DataFrame:
    """Per-key R/S Hurst exponent on the hourly mean grid.

    Classic rescaled-range analysis: for each block size s, split the
    grid sequence (ordered by hour, indexed 0..n-1 — calendar gaps
    close up, the same sequence-position convention as `acf_lags`)
    into complete consecutive blocks of s points; per block compute
    R = max - min of the cumulative deviations from the block mean and
    S = the population std of the block; average R/S over blocks; the
    Hurst exponent is the least-squares slope of ln(mean R/S) against
    ln(s). H ~ 0.5 is a random walk, H > 0.5 long-memory persistence,
    H < 0.5 mean reversion.

    Returns (key..., n_hours, n_sizes, hurst, rs_<s>...), with NULL
    hurst when fewer than two block sizes produce a valid (variance
    > 0) block.
    """
    return hurst_from_grid(
        _hourly_grid(df, list(key_cols), ts_col, value_col),
        key_cols=key_cols, sizes=sizes,
    )


def hurst_from_grid(
    grid: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    sizes: tuple[int, ...] = _DEFAULT_SIZES,
    materialize: bool = True,
) -> DataFrame:
    """The R/S analysis itself, over any (key..., h, x) grid relation
    — public so the streaming head (mergeable per-hour sum/count
    state) and the batch operator share one implementation; x must
    already carry the 6-decimal rounding.

    Plan shape: one sort-shuffle builds the sequence index, a bounded
    explode (x len(sizes)) assigns blocks, one more sort-shuffle
    computes the per-block cumulative-deviation path (ordered prefix
    sum, so float addition order is pinned in both engines), then
    everything downstream is block- and key-sized partial-aggregable
    groupBys. Per-block R/S is rounded at 6 BEFORE the cross-block
    mean and the validity test, so block inclusion and the regression
    inputs are bit-identical across engines.
    """
    gcols = list(key_cols)
    sizes = tuple(int(s) for s in sizes)
    w_idx = Window.partitionBy(*gcols).orderBy("h")
    g = grid.select(*gcols, "h", "x").withColumn(
        "_i", F.row_number().over(w_idx) - 1)

    e = g.select(
        *gcols, "_i", "x",
        F.explode(F.array(*[F.lit(s) for s in sizes])).alias("s"),
    ).select(
        *gcols, "s", "x",
        (F.col("_i") / F.col("s")).cast("long").alias("blk"),
        (F.col("_i") % F.col("s")).alias("pos"),
    )

    wb = Window.partitionBy(*gcols, "s", "blk")
    wcum = wb.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    # cumulative deviation from the block mean, written as
    # (ordered prefix sum of x) - (pos+1) * blocksum/s: the prefix sum
    # pins the addition order, the block mean is a single shared term
    b = e.select(
        *gcols, "s", "blk", "x", "pos",
        F.sum("x").over(wcum).alias("_run"),
        F.sum("x").over(wb).alias("_bsum"),
        F.sum(F.col("x") * F.col("x")).over(wb).alias("_bss"),
        F.count("*").over(wb).alias("_cnt"),
    ).filter(F.col("_cnt") == F.col("s"))
    cum = F.col("_run") - (F.col("pos") + 1) * F.col("_bsum") / F.col("s")
    mb = F.col("_bsum") / F.col("s")

    blocks = (
        b.select(*gcols, "s", "blk",
                 cum.alias("_cum"),
                 _r6(F.col("_bss") / F.col("s") - mb * mb).alias("_var"))
        .groupBy(*gcols, "s", "blk")
        .agg((F.max("_cum") - F.min("_cum")).alias("_range"),
             F.first("_var").alias("_var"))
        # inclusion on the ROUNDED variance: an exactly-constant block
        # must be excluded by BOTH engines (raw float noise could
        # leave var at +/-1e-16 in one engine only)
        .filter(F.col("_var") > 0)
        .select(*gcols, "s",
                _r6(F.col("_range") / F.sqrt(F.col("_var"))).alias("_rs"))
    )
    per_size = (
        blocks.groupBy(*gcols, "s")
        .agg(_r6(F.avg("_rs")).alias("rs"),
             F.count("*").cast("long").alias("n_blocks"))
    )
    if materialize:
        # keys x len(sizes) rows feeding BOTH the regression and the
        # pivot — materialize once (lazy localCheckpoint) so the whole
        # explode + double-window block chain runs a single time;
        # materialize=False keeps the pure-DataFrame lineage (plan tests)
        per_size = per_size.localCheckpoint(eager=False)

    # least-squares slope of ln(rs) on ln(s) over sizes with rs > 0
    # (rounded rs, so the inclusion set matches across engines)
    reg = per_size.filter(F.col("rs") > 0).select(
        *gcols, F.log(F.col("s").cast("double")).alias("_lx"),
        F.log("rs").alias("_ly"),
    ).groupBy(*gcols).agg(
        F.count("*").alias("_k"),
        F.sum("_lx").alias("_sx"), F.sum("_ly").alias("_sy"),
        F.sum(F.col("_lx") * F.col("_ly")).alias("_sxy"),
        F.sum(F.col("_lx") * F.col("_lx")).alias("_sxx"),
    ).select(
        *gcols, F.col("_k").cast("int").alias("n_sizes"),
        F.when(
            F.col("_k") >= 2,
            _r6((F.col("_k") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
                / (F.col("_k") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))),
        ).alias("hurst"),
    )

    base = g.groupBy(*gcols).agg(F.count("*").cast("long").alias("n_hours"))
    wide = per_size.groupBy(*gcols).pivot("s", list(sizes)).agg(
        F.first("rs"))
    out = base.join(reg, gcols, "left").join(wide, gcols, "left")
    return out.select(
        *gcols, "n_hours",
        F.coalesce(F.col("n_sizes"), F.lit(0)).cast("int").alias("n_sizes"),
        "hurst",
        *[F.col(str(s)).alias(f"rs_{s}") for s in sizes],
    )


def variance_ratio(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    q: int = 4,
) -> DataFrame:
    """Per-key Lo-MacKinlay variance-ratio test on the hourly grid.

    VR(q) = Var(x_t - x_{t-q}) / (q * Var(x_t - x_{t-1})) over
    overlapping q-step increments of the grid SEQUENCE (row position,
    gaps closed up); under a homoskedastic random walk VR = 1 with
    z = (VR - 1) / sqrt(2(2q-1)(q-1) / (3 q T)), T = number of 1-step
    increments. |z| > 1.96 rejects the random-walk null. Increment
    means use the simple (non-bias-corrected) population estimators
    with the 1-step mean mu as the drift for both horizons — the
    plain form of the statistic.
    """
    return variance_ratio_from_grid(
        _hourly_grid(df, list(key_cols), ts_col, value_col),
        key_cols=key_cols, q=q,
    )


def variance_ratio_from_grid(
    grid: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    q: int = 4,
) -> DataFrame:
    """The test itself over any (key..., h, x) grid relation (public
    for the streaming grid-state head). One sort-shuffle: both lags
    come from the same Window, the rest is a partial-aggregable
    groupBy on centered-form sums.

    Returns (key..., n_hours, n_diffs, vr, z, random_walk) with
    random_walk in {'reject', 'consistent', 'insufficient'} —
    'insufficient' when there are no q-step pairs or the 1-step
    variance is 0 (constant series).
    """
    gcols = list(key_cols)
    q = int(q)
    w = Window.partitionBy(*gcols).orderBy("h")
    x = F.col("x")
    d = grid.select(
        *gcols, "x",
        (x - F.lag(x, 1).over(w)).alias("_d"),
        (x - F.lag(x, q).over(w)).alias("_dq"),
    )
    per = d.groupBy(*gcols).agg(
        F.count("*").cast("long").alias("n_hours"),
        F.count("_d").cast("long").alias("n_diffs"),
        F.sum("_d").alias("_sd"),
        F.sum(F.col("_d") * F.col("_d")).alias("_sdd"),
        F.count("_dq").cast("long").alias("_nq"),
        F.sum("_dq").alias("_sq"),
        F.sum(F.col("_dq") * F.col("_dq")).alias("_sqq"),
    )
    t = F.col("n_diffs")
    mu = F.col("_sd") / t
    var1 = _r6((F.col("_sdd") - t * mu * mu) / t)
    varq = (F.col("_sqq") - 2 * q * mu * F.col("_sq")
            + F.col("_nq") * q * q * mu * mu) / (F.col("_nq") * q)
    ok = (F.col("_nq") > 0) & (var1 > 0)
    vr = F.when(ok, _r6(varq / var1))
    se = F.sqrt(F.lit(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q)) / t)
    z = F.when(ok, _r6((vr - 1) / se))
    return per.select(
        *gcols, "n_hours", "n_diffs",
        vr.alias("vr"), z.alias("z"),
        F.when(~ok, F.lit("insufficient"))
        .when(F.abs(z) > _Z_CRIT, F.lit("reject"))
        .otherwise(F.lit("consistent")).alias("random_walk"),
    )


def dfa_alpha(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    sizes: tuple[int, ...] = _DEFAULT_SIZES,
) -> DataFrame:
    """Detrended fluctuation analysis per key (Peng et al. 1994) on the
    hourly mean grid — the modern long-memory estimator beside
    hurst_rs: a per-block LINEAR fit of the integrated profile is
    removed before measuring the fluctuation, which keeps the whole
    alpha scale interpretable where R/S clamps — alpha ~ 0.5 white,
    ~1.0 1/f, ~1.5 random walk, ~2 deterministic trend (R/S reads
    both a walk AND a trend as H ~ 1, so it cannot tell memory from
    nonstationarity; DFA's distinct trend signature can — pinned in
    tests).

    Profile Y_t = prefix_sum(x) - (t+1)*mean (the ordered-prefix trick
    pins the float order); per complete block of size s the detrended
    RMS^2 comes in closed form from three block sums (pos moments are
    exact integers: Sxx = s(s^2-1)/12); F(s) = sqrt(mean block RMS^2)
    rounded at 6; alpha = LS slope of ln F on ln s over sizes with
    F > 0. Same bounded explode (grid x len(sizes)) and the same
    NULL-below-two-sizes convention as hurst_rs.

    Returns (key..., n_hours, n_sizes, alpha, f_<s>...).
    """
    gcols = list(key_cols)
    sizes = tuple(int(s) for s in sizes)
    grid = _hourly_grid(df, gcols, ts_col, value_col)
    w_idx = Window.partitionBy(*gcols).orderBy("h")
    wk = Window.partitionBy(*gcols)
    wcum = w_idx.rowsBetween(Window.unboundedPreceding, 0)
    g = grid.select(
        *gcols, "h", "x",
        (F.row_number().over(w_idx) - 1).alias("_i"),
        F.sum("x").over(wcum).alias("_run"),
        (F.sum("x").over(wk) / F.count("*").over(wk)).alias("_m"),
    ).select(
        *gcols, "_i",
        (F.col("_run") - (F.col("_i") + 1) * F.col("_m")).alias("_Y"),
    )

    e = g.select(
        *gcols, "_i", "_Y",
        F.explode(F.array(*[F.lit(s) for s in sizes])).alias("s"),
    ).select(
        *gcols, "s", "_Y",
        (F.col("_i") / F.col("s")).cast("long").alias("blk"),
        (F.col("_i") % F.col("s")).cast("double").alias("pos"),
    )
    blocks = (
        e.groupBy(*gcols, "s", "blk")
        .agg(F.count("*").alias("_cnt"),
             F.sum("_Y").alias("_sy"),
             F.sum(F.col("_Y") * F.col("_Y")).alias("_syy"),
             F.sum(F.col("_Y") * F.col("pos")).alias("_syp"))
        .where(F.col("_cnt") == F.col("s"))
    )
    s = F.col("s").cast("double")
    pbar = (s - 1) / 2.0
    sxx = s * (s * s - 1) / F.lit(12.0)
    sxy = F.col("_syp") - pbar * F.col("_sy")
    syy = F.col("_syy") - F.col("_sy") * F.col("_sy") / s
    rms2 = (syy - sxy * sxy / sxx) / s
    per_size = (
        blocks.select(*gcols, "s", rms2.alias("_r2"))
        .groupBy(*gcols, "s")
        .agg(_r6(F.sqrt(F.greatest(F.avg("_r2"), F.lit(0.0)))).alias("f"),
             F.count("*").cast("long").alias("n_blocks"))
    )
    reg = per_size.filter(F.col("f") > 0).select(
        *gcols, F.log(F.col("s").cast("double")).alias("_lx"),
        F.log("f").alias("_ly"),
    ).groupBy(*gcols).agg(
        F.count("*").alias("_k"),
        F.sum("_lx").alias("_sx"), F.sum("_ly").alias("_sy"),
        F.sum(F.col("_lx") * F.col("_ly")).alias("_sxy"),
        F.sum(F.col("_lx") * F.col("_lx")).alias("_sxx"),
    ).select(
        *gcols, F.col("_k").cast("int").alias("n_sizes"),
        F.when(
            F.col("_k") >= 2,
            _r6((F.col("_k") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
                / (F.col("_k") * F.col("_sxx")
                   - F.col("_sx") * F.col("_sx"))),
        ).alias("alpha"),
    )
    base = g.groupBy(*gcols).agg(F.count("*").cast("long").alias("n_hours"))
    wide = per_size.groupBy(*gcols).pivot("s", list(sizes)).agg(
        F.first("f"))
    out = base.join(reg, gcols, "left").join(wide, gcols, "left")
    return out.select(
        *gcols, "n_hours",
        F.coalesce(F.col("n_sizes"), F.lit(0)).cast("int").alias("n_sizes"),
        "alpha",
        *[F.col(str(s_)).alias(f"f_{s_}") for s_ in sizes],
    )
