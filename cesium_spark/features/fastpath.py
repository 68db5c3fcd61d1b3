"""Segmented (cross-group vectorized) feature evaluation.

The per-group kernel (registry.compute_features) costs ~0.1-1 ms of Python
per group; at 10^12 turns / 10^9 windows that is the whole job. This module
evaluates the same features for ALL groups of an Arrow batch at once with
O(batch) numpy work: reduceat for segmented sums/extrema, one lexsort for
all order-statistics, masked vectorized iteration for the Stetson mean.

Numerical note: segmented sums use np.add.reduceat (sequential summation)
while numpy's np.mean/np.std use pairwise summation, so fast-path values
can differ from the per-group kernel in the last ~2 ulps. That is far
inside the reference's own 1e-6 golden tolerance
(cesium features/tests/test_graphs.py uses assert_array_almost_equal), and
the fast path remains exactly deterministic and partitioning-invariant:
each group's value depends only on its own sorted rows.

Inputs are the batch-concatenated, group-contiguous, time-sorted arrays the
batched kernel already has (t in kernel time units, m, e) plus the group
start offsets.
"""

from __future__ import annotations

import numpy as np

__all__ = ["FAST_FEATS", "segmented_features"]

_CAD_PROB_MINUTES = (
    1, 10, 20, 30, 40, 50, 100, 500, 1000, 5000,
    10000, 50000, 100000, 500000, 1000000, 5000000, 10000000,
)

_FLUX_MIDS = (20, 35, 50, 65, 80)


def _seg_sum(x, starts):
    return np.add.reduceat(x, starts)


def _seg_min(x, starts):
    return np.minimum.reduceat(x, starts)


def _seg_max(x, starts):
    return np.maximum.reduceat(x, starts)


def _order_stats_idx(lens, starts, q):
    """Indices + interpolation weights for the q-quantile (numpy 'linear'
    interpolation) of each group, assuming values sorted within groups."""
    pos = q * (lens - 1.0)
    lo = np.floor(pos).astype(np.int64)
    hi = np.ceil(pos).astype(np.int64)
    g = pos - lo
    return starts + lo, starts + hi, g


def _seg_quantile(sorted_vals, lens, starts, q):
    if len(sorted_vals) == 0:
        return np.full(len(starts), np.nan)
    ilo, ihi, g = _order_stats_idx(lens, starts, q)
    # clamp: groups with no data (callers mask them to NaN afterwards) can
    # produce offsets one past the end
    top = len(sorted_vals) - 1
    lo = sorted_vals[np.minimum(ilo, top)]
    return lo + g * (sorted_vals[np.minimum(ihi, top)] - lo)


def _seg_median(sorted_vals, lens, starts):
    return _seg_quantile(sorted_vals, lens, starts, 0.5)


def _stetson_delta(m, starts, ends, lens, gid):
    """Vectorized Stetson delta: bias-corrected residuals from the
    iteratively reweighted Stetson mean (dx=0.1 hardcoded, as in the
    reference stetson.py), all groups iterated together with converged
    groups frozen (identical to per-group early break)."""
    weight = 100.0
    sqrtw = 10.0
    # start: per-group median (needs sorted values)
    order = np.lexsort((m, gid))
    ms = m[order]
    mu = _seg_median(ms, lens, starts)
    active = np.ones(len(starts), dtype=bool)
    for _ in range(20):
        resid = m - mu[gid]
        w1 = weight / (1.0 + (np.abs(resid) * sqrtw / 2.0) ** 2.0)
        w1 = w1 / (_seg_sum(w1, starts) / lens)[gid]
        diff = _seg_sum(m * w1, starts) / lens - mu
        newmu = np.where(active, mu + diff, mu)
        conv = (np.abs(diff) < 1e-6 * np.abs(newmu)) | (np.abs(diff) < 1e-6)
        mu = newmu
        active &= ~conv
        if not active.any():
            break
    delta = np.sqrt(lens / (lens - 1.0))[gid] * (m - mu[gid]) / 0.1
    return delta


FAST_FEATS = frozenset(
    [
        "n_epochs", "mean", "minimum", "maximum", "amplitude", "median",
        "median_absolute_deviation", "std", "skew", "kurtosis",
        "total_time", "avgt", "avg_err", "med_err", "std_err",
        "weighted_average", "weighted_std_dev", "percent_beyond_1_std",
        "percent_close_to_median", "max_slope",
        "cads_avg", "cads_med", "cads_std", "cads_skew", "cads_kurtosis",
        "avg_double_to_single_step", "med_double_to_single_step",
        "std_double_to_single_step",
        "stetson_j", "stetson_k",
        "percent_amplitude", "percent_difference_flux_percentile",
    ]
    + [f"cad_probs_{k}" for k in _CAD_PROB_MINUTES]
    + [f"flux_percentile_ratio_mid{r}" for r in _FLUX_MIDS]
)


def segmented_features(t, m, e, starts, features):
    """Evaluate `features` (all in FAST_FEATS) for every group at once.

    t/m/e: float64 arrays, groups contiguous and time-sorted (t, tiebreak).
    starts: int64 group start offsets (first element 0).
    Returns {feature: float64 array of len(starts)}; groups where a feature
    is undefined get NaN (matching the per-group NaN-on-error policy).
    """
    n = len(t)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.append(starts[1:], n)
    lens = (ends - starts).astype(np.float64)
    gid = np.repeat(np.arange(len(starts)), ends - starts)
    req = set(features)
    out: dict[str, np.ndarray] = {}

    def need(*names):
        return any(x in req for x in names)

    with np.errstate(all="ignore"):
        if need("n_epochs"):
            out["n_epochs"] = lens.copy()
        mean = _seg_sum(m, starts) / lens
        if need("mean"):
            out["mean"] = mean
        mn = _seg_min(m, starts)
        mx = _seg_max(m, starts)
        if need("minimum"):
            out["minimum"] = mn
        if need("maximum"):
            out["maximum"] = mx
        if need("amplitude"):
            out["amplitude"] = (mx - mn) / 2.0

        if need("std", "skew", "kurtosis", "percent_beyond_1_std"):
            d = m - mean[gid]
            m2 = _seg_sum(d * d, starts) / lens
            if need("std"):
                out["std"] = np.sqrt(m2)
            if need("skew"):
                m3 = _seg_sum(d * d * d, starts) / lens
                out["skew"] = np.where(m2 > 0, m3 / m2**1.5, np.nan)
            if need("kurtosis"):
                m4 = _seg_sum(d * d * d * d, starts) / lens
                out["kurtosis"] = np.where(m2 > 0, m4 / (m2 * m2) - 3.0, np.nan)

        sorted_m = None
        med = None
        if need("median", "median_absolute_deviation", "percent_close_to_median",
                "stetson_j", "stetson_k"):
            sorted_m = m[np.lexsort((m, gid))]
            med = _seg_median(sorted_m, lens, starts)
            if need("median"):
                out["median"] = med
        if need("median_absolute_deviation"):
            dev = np.abs(m - med[gid])
            sorted_dev = dev[np.lexsort((dev, gid))]
            out["median_absolute_deviation"] = _seg_median(sorted_dev, lens, starts)
        if need("percent_close_to_median"):
            window = (mx - mn) * 0.1
            close = (np.abs(m - med[gid]) < window[gid]).astype(np.float64)
            out["percent_close_to_median"] = _seg_sum(close, starts) / lens

        if need("total_time", "avgt"):
            tmin = _seg_min(t, starts)
            tmax = _seg_max(t, starts)
            if need("total_time"):
                out["total_time"] = tmax - tmin
            if need("avgt"):
                out["avgt"] = _seg_sum(t, starts) / lens

        if need("avg_err", "med_err", "std_err"):
            emean = _seg_sum(e, starts) / lens
            if need("avg_err"):
                out["avg_err"] = emean
            if need("std_err"):
                de = e - emean[gid]
                out["std_err"] = np.sqrt(_seg_sum(de * de, starts) / lens)
            if need("med_err"):
                se = e[np.lexsort((e, gid))]
                out["med_err"] = _seg_median(se, lens, starts)

        if need("weighted_average", "weighted_std_dev", "percent_beyond_1_std"):
            w = 1.0 / (e * e)
            wsum = _seg_sum(w, starts)
            wavg = _seg_sum(w * m, starts) / wsum
            if need("weighted_average"):
                out["weighted_average"] = wavg
            dw = m - wavg[gid]
            wstd = np.sqrt(_seg_sum(w * dw * dw, starts) / wsum)
            if need("weighted_std_dev"):
                out["weighted_std_dev"] = wstd
            if need("percent_beyond_1_std"):
                beyond = (np.abs(dw) > wstd[gid]).astype(np.float64)
                out["percent_beyond_1_std"] = _seg_sum(beyond, starts) / lens

        # cadence block: diffs within groups (first row of each group is a
        # cross-group diff -> masked out by shifting starts)
        cad_feats = [f for f in req if f.startswith(("cads_", "cad_probs_",
                                                     "avg_double", "med_double", "std_double"))]
        if cad_feats or need("max_slope"):
            # consecutive diffs; a diff at position i pairs rows (i, i+1),
            # so diffs crossing a group boundary are dropped
            dt = t[1:] - t[:-1] if n > 1 else np.zeros(0)
            dm = m[1:] - m[:-1] if n > 1 else np.zeros(0)
            dlens = np.maximum(lens - 1.0, 0.0)
            keep = np.ones(max(n - 1, 0), dtype=bool)
            if n > 1:
                keep[starts[1:] - 1] = False
            cads = dt[keep]
            slopes = np.abs(dm[keep] / dt[keep]) if need("max_slope") else None
            # group id of each kept diff = group of its left row
            cgid = gid[:-1][keep] if n > 1 else np.zeros(0, dtype=np.int64)
            # group start offsets in cads-space
            c_starts = np.zeros(len(starts), dtype=np.int64)
            if len(starts) > 1:
                np.cumsum(dlens[:-1].astype(np.int64), out=c_starts[1:])
            empty = dlens <= 0  # groups with <2 rows have no cads
            nan_arr = np.full(len(starts), np.nan)

            # reduceat only at non-empty groups' offsets (clamping empty
            # trailing/middle offsets would split neighbors' segments);
            # empty groups stay NaN
            def safe_reduceat(op, x):
                out = nan_arr.copy()
                nz_mask = ~empty
                if len(x) and nz_mask.any():
                    out[nz_mask] = op.reduceat(x, c_starts[nz_mask])
                return out

            if need("max_slope"):
                ms_ = safe_reduceat(np.maximum, slopes)
                out["max_slope"] = ms_
            if cad_feats:
                cmean = safe_reduceat(np.add, cads) / np.where(empty, np.nan, dlens)
                if "cads_avg" in req:
                    out["cads_avg"] = cmean
                if need("cads_std", "cads_skew", "cads_kurtosis"):
                    cd = cads - np.where(np.isnan(cmean), 0, cmean)[cgid]
                    c2 = safe_reduceat(np.add, cd * cd) / dlens
                    if "cads_std" in req:
                        out["cads_std"] = np.sqrt(c2)
                    if "cads_skew" in req:
                        c3 = safe_reduceat(np.add, cd**3) / dlens
                        out["cads_skew"] = np.where(c2 > 0, c3 / c2**1.5, np.nan)
                    if "cads_kurtosis" in req:
                        c4 = safe_reduceat(np.add, cd**4) / dlens
                        out["cads_kurtosis"] = np.where(c2 > 0, c4 / (c2 * c2) - 3.0, np.nan)
                if "cads_med" in req:
                    cs = cads[np.lexsort((cads, cgid))]
                    cm = _seg_quantile(cs, np.where(empty, 1, dlens), c_starts, 0.5)
                    out["cads_med"] = np.where(empty, np.nan, cm)
                probs = [k for k in _CAD_PROB_MINUTES if f"cad_probs_{k}" in req]
                if probs:
                    for k in probs:
                        s_val = k / 1440.0
                        lt = safe_reduceat(np.add, (cads < s_val).astype(np.float64))
                        le = safe_reduceat(np.add, (cads <= s_val).astype(np.float64))
                        out[f"cad_probs_{k}"] = np.where(
                            empty, np.nan,
                            (lt + le + (le > lt)) / (2.0 * dlens),
                        )
                if need("avg_double_to_single_step", "med_double_to_single_step",
                        "std_double_to_single_step"):
                    # ratios (cads[2:]+cads[:-2])/(cads[1:-1]-cads[:-2]) per group
                    r_lens = np.maximum(dlens - 2.0, 0.0)
                    r_empty = r_lens <= 0
                    if len(cads) >= 3:
                        rall = (cads[2:] + cads[:-2]) / (cads[1:-1] - cads[:-2])
                        rkeep = np.ones(len(cads) - 2, dtype=bool)
                        # ratio i uses cads[i..i+2]; valid iff all in same group
                        bad = np.flatnonzero(cgid[:-2] != cgid[2:])
                        rkeep[bad] = False
                        ratios = rall[rkeep]
                        rgid = cgid[:-2][rkeep]
                        r_starts = np.zeros(len(starts), dtype=np.int64)
                        if len(starts) > 1:
                            np.cumsum(r_lens[:-1].astype(np.int64), out=r_starts[1:])
                    else:
                        ratios = np.zeros(0)
                        rgid = np.zeros(0, dtype=np.int64)
                        r_starts = np.zeros(len(starts), dtype=np.int64)

                    def safe_r(op, x):
                        out = nan_arr.copy()
                        nz_mask = ~r_empty
                        if len(x) and nz_mask.any():
                            out[nz_mask] = op.reduceat(x, r_starts[nz_mask])
                        return out

                    rmean = safe_r(np.add, ratios) / np.where(r_empty, np.nan, r_lens)
                    if "avg_double_to_single_step" in req:
                        out["avg_double_to_single_step"] = rmean
                    if "std_double_to_single_step" in req:
                        rd = ratios - np.where(np.isnan(rmean), 0, rmean)[rgid]
                        out["std_double_to_single_step"] = np.sqrt(
                            safe_r(np.add, rd * rd) / r_lens
                        )
                    if "med_double_to_single_step" in req:
                        rs = ratios[np.lexsort((ratios, rgid))]
                        rm = _seg_quantile(rs, np.where(r_empty, 1, r_lens), r_starts, 0.5)
                        out["med_double_to_single_step"] = np.where(r_empty, np.nan, rm)

        if need("stetson_j", "stetson_k"):
            single = lens < 2
            delta = _stetson_delta(m, starts, ends, lens, gid)
            if need("stetson_j"):
                p = delta * delta - 1.0
                sj = _seg_sum(np.sign(p) * np.sqrt(np.abs(p)), starts) / lens
                out["stetson_j"] = np.where(single, np.nan, sj)
            if need("stetson_k"):
                sk = (
                    1.0 / 0.798
                    * (_seg_sum(np.abs(delta), starts) / lens)
                    / np.sqrt(_seg_sum(delta * delta, starts) / lens)
                )
                out["stetson_k"] = np.where(single, np.nan, sk)

        flux_req = need("percent_amplitude", "percent_difference_flux_percentile") or any(
            f"flux_percentile_ratio_mid{r}" in req for r in _FLUX_MIDS
        )
        if flux_req:
            f = 10.0 ** (-0.4 * m)
            fsorted = f[np.lexsort((f, gid))]
            if need("percent_amplitude"):
                fmed = _seg_median(fsorted, lens, starts)
                fmax = _seg_max(f, starts)
                fmin = _seg_min(f, starts)
                hi = np.abs((fmax - fmed) / fmed)
                lo = np.abs((fmed - fmin) / fmed)
                # Python max(hi, lo), as the registry: NaN only wins when
                # it comes first (np.maximum propagates either NaN)
                out["percent_amplitude"] = np.where(lo > hi, lo, hi)
            p95 = _seg_quantile(fsorted, lens, starts, 0.95)
            p5 = _seg_quantile(fsorted, lens, starts, 0.05)
            if need("percent_difference_flux_percentile"):
                p50 = _seg_median(fsorted, lens, starts)
                out["percent_difference_flux_percentile"] = (p95 - p5) / p50
            for r_ in _FLUX_MIDS:
                if f"flux_percentile_ratio_mid{r_}" in req:
                    hi = _seg_quantile(fsorted, lens, starts, (50 + r_ / 2.0) / 100.0)
                    lo = _seg_quantile(fsorted, lens, starts, (50 - r_ / 2.0) / 100.0)
                    out[f"flux_percentile_ratio_mid{r_}"] = (hi - lo) / (p95 - p5)

    # NaN for empty groups across the board (n==0 can't happen: groups
    # exist because rows exist), single-point groups already handled above.
    return {k: out[k] for k in features}
