"""Multi-harmonic generalized Lomb-Scargle model + derived periodic
features: a scipy-free numpy port of the reference pipeline
(/root/reference/cesium/features/lomb_scargle.py, _lomb_scargle.h,
_eigs.h, num_alias.py, scatter_res_raw.py, periodic_model.py,
period_folding.py), validated against the reference's golden vectors.

Port notes (numerical parity):
  - The C kernel's incremental sin/cos rotations are reproduced with the
    same elementwise operation order, so the accumulated rounding matches
    the reference bit-for-bit; dot products use numpy's pairwise
    summation (differs from C's sequential sum at ~1e-15 relative — far
    inside the golden 1e-6 tolerance).
  - The C `optimize_px` reuses its outer loop variable inside a nested
    loop, so the "3-round" lambda zoom executes exactly one round; the
    port reproduces that control flow deliberately.
  - The zoom offset `ifr` is persistent state across grid frequencies in
    the C driver (only overwritten when a zoom finds a positive px); the
    port keeps the same statefulness.
  - `scipy.stats.f.sf(x, 2, d2)` has the closed form (d2/(d2+2x))^(d2/2);
    `scipy.stats.norm.ppf` is stats.norm_ppf (AS 241);
    `scipy.optimize.fmin` is replicated as a faithful 1-D Nelder-Mead
    with scipy's exact defaults and update rules.
  - `numpy.linalg.eigh` replaces the NR tred2/tqli Jacobi solver (the
    downstream quantities are invariant to eigen order and sign).
"""

from __future__ import annotations

import numpy as np

from .stats import norm_ppf

_TWO_PI = 2.0 * np.pi


# ------------------------------------------------------------ primitives


def _rotate(s, c, s0, c0):
    """One incremental frequency step: (s, c) <- rotation by (s0, c0).
    Same elementwise order as the C update_sincos (offset 0)."""
    tmp = s.copy()
    s[:] = c0 * tmp + s0 * c
    c[:] = c0 * c - s0 * tmp


def _do_lomb_batch(cn, S, C, wth):
    """Weighted sin+cos LS power for a whole chunk of frequencies at
    once: S/C are (B, n) rows of the rotation recurrence, and wth is the
    (detrend_order+1, n) orthonormal detrending basis. Every reduction
    is one BLAS/numpy call for the chunk instead of ~10 tiny calls per
    frequency. Accumulation order inside each reduction differs from the
    C reference's per-frequency loop only at the ~1e-15 pairwise-summation
    level (same class of difference as the documented numpy-vs-C deltas,
    far inside the golden 1e-6 tolerance); the branch structure
    (detm > 0) is identical."""
    st0 = S @ wth.T  # (B, dord+1)
    ct0 = C @ wth.T
    st = np.einsum("ij,ij->i", st0, st0)
    ct = np.einsum("ij,ij->i", ct0, ct0)
    cst = np.einsum("ij,ij->i", st0, ct0)
    cs = np.einsum("ij,ij->i", C, S) - cst
    c2raw = np.einsum("ij,ij->i", C, C)
    sh = S @ cn
    ch = C @ cn
    s2 = 1.0 - c2raw - st
    c2 = c2raw - ct
    detm = c2 * s2 - cs * cs
    with np.errstate(divide="ignore", invalid="ignore"):
        px = (c2 * sh * sh - 2.0 * cs * ch * sh + s2 * ch * ch) / detm
    return np.where(detm > 0, px, 0.0)


def _do_lomb_zoom(cn, sinx, cosx, sb, cb, ss, cs_, wth, freq_zoom, ifr_in):
    """Fine scan of `freq_zoom` sub-steps around the current frequency;
    returns (sinx1, cosx1 positioned at the best sub-offset, ifr).
    The sub-step scan is batched like the main grid (bit-equal recurrence
    rows + one _do_lomb_batch); argmax-first-occurrence reproduces the
    scalar strict-running-max selection."""
    nz = int(freq_zoom)
    S = np.empty((nz, len(sinx)))
    C = np.empty((nz, len(sinx)))
    S[0] = cb * sinx + sb * cosx  # step back by df/2 (same ops as _rotate)
    C[0] = cb * cosx - sb * sinx
    for i in range(nz - 1):
        S[i + 1] = cs_ * S[i] + ss * C[i]
        C[i + 1] = cs_ * C[i] - ss * S[i]
    px = _do_lomb_batch(cn, S, C, wth)
    k = int(np.argmax(px))
    ifr = k if px[k] > 0.0 else ifr_in
    s1, c1 = sinx.copy(), cosx.copy()
    if ifr < freq_zoom / 2.0:
        _rotate(s1, c1, sb, cb)
        for _ in range(ifr):
            _rotate(s1, c1, ss, cs_)
    else:
        for _ in range(int(ifr - freq_zoom / 2.0)):
            _rotate(s1, c1, ss, cs_)
    return s1, c1, ifr


def _def_hat(nharm, detrend_order, sinx, cosx, wth, cn, lambda0, numt):
    """Multi-harmonic design matrix + Gram matrix (C def_hat)."""
    npar = 2 * nharm
    wth0 = wth[0]
    H = np.empty((npar, numt))
    H[0] = sinx
    H[nharm] = cosx
    sx0 = sinx / wth0
    cx0 = cosx / wth0
    for j in range(nharm - 1):
        # harmonic j+1 from j via unweighted base rotation
        H[j + 1] = cx0 * H[j] + sx0 * H[j + nharm]
        H[j + 1 + nharm] = cx0 * H[j + nharm] - sx0 * H[j]
    hat0 = H @ wth.T  # (npar, dord+1)
    G = H @ H.T - hat0 @ hat0.T
    ii = 1.0 + (np.arange(npar) % nharm)
    ct = ii * ii
    vec = (H @ cn) / ct
    hat_hat = G / np.outer(ct, ct)
    hat_hat[np.diag_indices(npar)] += numt * lambda0
    return H, hat0, hat_hat, vec


def _optimize_px(p, V, eigs, lambda0, lambda0_range, chi0, tone_control, numt):
    """GCV-regularized power maximization over lambda (C optimize_px,
    including its single-effective-round control flow)."""
    n = len(p)
    niter = 50
    tcn = tone_control / numt
    tr0 = (1.0 - 3.0 / numt) / (1.0 + tcn)
    s1w = (1.0 + (np.arange(n) % (n // 2))) ** 4
    M = (V / s1w[:, None]).T @ V  # M[i,j] = sum_k V[k,i]V[k,j]/s1_k
    start, stop = lambda0_range[0], lambda0_range[1]
    dlambda = np.exp(np.log(stop / start) / niter)
    # the sequential lam *= dlambda product, reproduced bit-for-bit by
    # cumprod (same left-to-right multiply chain); the whole 51-step
    # lambda scan is then batched into a handful of array ops
    lams = np.cumprod(np.concatenate(([start], np.full(niter, dlambda))))
    eigs1 = eigs[None, :] + numt * (lams[:, None] - lambda0)  # (51, n)
    tr = 1.0 - 2.0 * n / numt + np.sum(2.0 * lams[:, None] / eigs1, axis=1)
    v = p[None, :] / eigs1
    s1 = v @ p
    s2 = (v / eigs1) @ p
    s3 = np.einsum("ij,ij->i", v @ M, v)
    px = chi0 - (chi0 - s1 - s2 * numt * lams) * (1.0 + tcn * (s2 / s3)) * tr0 / tr
    # scalar loop semantics: first strict running max among tr > 0
    valid = tr > 0
    if not valid.any():
        return 0.0, start, 0.0
    masked = np.where(valid, px, -np.inf)
    k = int(np.argmax(masked))  # first occurrence == strict running max
    if masked[k] <= 0.0:
        return 0.0, start, 0.0
    # C bug reproduced: the outer 3-round loop's counter is clobbered by an
    # inner loop, so exactly one round executes; start/stop updates are dead.
    return float(px[k]), float(lams[k]), float(tr[k])


def _refine_psd(nharm, detrend_order, sinx, cosx, wth, cn, lambda0,
                lambda0_range, chi0, tone_control, numt, want_inverse):
    """C refine_psd: multiharmonic GCV fit at the current frequency.
    Returns (px, lambda_new, trace, soln or None, hat_hat_inv or None,
    hat_matr, hat0)."""
    H, hat0, hat_hat, vec = _def_hat(
        nharm, detrend_order, sinx, cosx, wth, cn, lambda0, numt
    )
    eigs, V = np.linalg.eigh(hat_hat)
    p = V.T @ vec
    px, lam_best, trace = _optimize_px(
        p, V, eigs, lambda0, lambda0_range, chi0, tone_control, numt
    )
    soln = None
    hh_inv = None
    if want_inverse:
        denom = eigs + numt * lam_best - numt * lambda0
        hh_inv = (V / denom) @ V.T
        soln = hh_inv @ vec
    return px, lam_best, trace, soln, hh_inv, H, hat0


def _f_sf_d1_2(x, d2):
    """Survival function of the F(2, d2) distribution, closed form."""
    if d2 <= 0:
        return np.nan
    u = d2 / (d2 + 2.0 * x)
    if u <= 0:
        return 0.0
    return float(u ** (d2 / 2.0))


def _lprob2sigma(lprob):
    """log_e(probability) -> Gaussian sigmas (reference lomb_scargle.py
    lprob2sigma, with norm.ppf from AS 241)."""
    if lprob > -36.0:
        return float(norm_ppf(np.array(1.0 - 0.5 * np.exp(lprob))))
    sigma = np.sqrt(np.log(2.0 / np.pi) - 2.0 * np.log(8.2) - 2.0 * lprob)
    f = 0.5 * np.log(2.0 / np.pi) - 0.5 * sigma**2 - np.log(sigma) - lprob
    sigma += f / (sigma + 1.0 / sigma)
    return float(sigma)


# --------------------------------------------------------- main fit


def fit_lomb_scargle(time, signal, error, f0, df, numf, nharm=8, psdmin=6.0,
                     detrend_order=0, freq_zoom=10.0, tone_control=5.0,
                     lambda0=1.0, lambda0_range=(-8, 6)):
    """Grid-search single-frequency fit with nharm harmonics and GCV
    regularization (port of lomb_scargle.py:214-471 + the C kernel)."""
    time = np.asarray(time, dtype=np.float64)
    signal = np.asarray(signal, dtype=np.float64)
    error = np.asarray(error, dtype=np.float64)
    ntime = len(time)
    numf = int(numf)

    freq_zoom = round(freq_zoom / 2.0) * 2.0

    coef = np.zeros(detrend_order + 1)
    norm = np.zeros(detrend_order + 1)

    wth0 = 1.0 / error
    s0 = float(wth0 @ wth0)
    wth0 = wth0 / np.sqrt(s0)

    cn = signal * wth0
    coef[0] = float(cn @ wth0)
    cn0 = coef[0]
    norm[0] = 1.0
    cn = cn - coef[0] * wth0
    vcn = np.ones(ntime)

    tt = _TWO_PI * time
    sinx, cosx = np.sin(tt * f0) * wth0, np.cos(tt * f0) * wth0
    sinx_step, cosx_step = np.sin(tt * df), np.cos(tt * df)
    sinx_back, cosx_back = -np.sin(tt * df / 2.0), np.cos(tt * df / 2.0)
    sinx_small, cosx_small = np.sin(tt * df / freq_zoom), np.cos(tt * df / freq_zoom)

    # orthonormal polynomial detrending basis
    wth = np.zeros((detrend_order + 1, ntime))
    wth[0] = wth0
    for i in range(detrend_order):
        f = wth[i] * tt / _TWO_PI
        for j in range(i + 1):
            f = f - float(f @ wth[j]) * wth[j]
        norm[i + 1] = np.sqrt(float(f @ f))
        f = f / norm[i + 1]
        coef[i + 1] = float(cn @ f)
        cn = cn - coef[i + 1] * f
        wth[i + 1] = f
        vcn = vcn + (f / wth0) ** 2

    chi0 = float(cn @ cn)
    varcn = chi0 / (ntime - 1 - detrend_order)
    psdmin = psdmin * 2.0 * varcn

    lambda0 = lambda0 / s0
    lambda0_range = 10.0 ** np.asarray(lambda0_range, dtype=np.float64) / s0
    npar = 2 * nharm

    # ---- grid scan (C lomb_scargle driver) ----
    #
    # Vectorized across the frequency axis: rotation rows for a CHUNK of
    # grid frequencies are generated by the exact same elementwise
    # recurrence as the scalar _rotate (row b+1 = c0*row_b + s0*row_b —
    # bitwise-identical sin/cos states), then the chunk's raw LS powers
    # come from one batched _do_lomb_batch call. The stateful tail
    # (psd0max tracking, zoom + GCV refine above psdmin, the persistent
    # `ifr`) runs sequentially over the chunk exactly as the C driver
    # does — refines are rare (psd > psdmin), so the batch path carries
    # the bulk of the 10^5-point grid at BLAS speed.
    psd = np.zeros(numf)
    ifr = int(freq_zoom) // 2
    ifreq = ifr
    psdmax = 0.0
    psd0max = 0.0
    jmax = 0
    sinx2, cosx2 = sinx.copy(), cosx.copy()
    lam_final = lambda0
    chunk = 512
    j0 = 0
    # complex rotation state: Z = cosx + i*sinx, step = one complex
    # multiply per grid frequency. numpy's complex product computes
    # real = c*c0 - s*s0, imag = c*s0 + s*c0 — the exact elementwise
    # formulas of the scalar _rotate (addition/multiplication are
    # commutative in IEEE floats), so every row is BIT-EQUAL to the
    # sequential rotation chain while costing one ufunc dispatch instead
    # of ~10 small ones.
    rot = cosx_step + 1j * sinx_step
    Z = np.empty((chunk + 1, ntime), dtype=np.complex128)
    while j0 < numf:
        B = min(chunk, numf - j0)
        Z[0] = cosx + 1j * sinx
        for b in range(B):
            np.multiply(Z[b], rot, out=Z[b + 1])
        # strided views into Z — matmul/einsum consume them directly
        # (measured faster than materializing contiguous copies)
        S = Z.imag
        C = Z.real
        px_raw = _do_lomb_batch(cn, S[:B], C[:B], wth)
        psd[j0:j0 + B] = px_raw
        # candidate pruning: the scalar loop only ACTS at indices that
        # either beat the running raw max (psd0max chain, while no refine
        # has fired) or exceed psdmin (zoom+refine); everything else is a
        # no-op compare. The candidate set below is a superset of those
        # indices, and the loop body re-evaluates the exact conditions, so
        # semantics (including the sequential ifr / psdmax interplay) are
        # unchanged — but the Python loop now touches dozens of indices
        # per 512-wide chunk instead of all of them.
        hot = px_raw > psdmin
        if psdmax == 0.0:
            running = np.maximum.accumulate(px_raw)
            cand = (px_raw >= running) & (px_raw > psd0max) | hot
        else:
            cand = hot
        for b in np.flatnonzero(cand):
            j = j0 + b
            if psd[j] > psd0max and psdmax == 0.0:
                psd0max = psd[j]
                sinx2, cosx2 = S[b].copy(), C[b].copy()
                jmax = j
            if psd[j] > psdmin:
                s1_, c1_, ifr = _do_lomb_zoom(
                    cn, S[b], C[b], sinx_back, cosx_back, sinx_small,
                    cosx_small, wth, freq_zoom, ifr,
                )
                px, _lam, _tr, _, _, _, _ = _refine_psd(
                    nharm, detrend_order, s1_, c1_, wth, cn, float(lambda0),
                    lambda0_range, chi0, tone_control, ntime, False,
                )
                psd[j] = px
                if px > psdmax:
                    sinx2, cosx2 = s1_.copy(), c1_.copy()
                    psdmax = px
                    ifreq = ifr
                    jmax = j
        sinx, cosx = S[B].copy(), C[B].copy()
        j0 += B

    px, lam_final, trace, soln, hat_hat, hat_matr, hat0 = _refine_psd(
        nharm, detrend_order, sinx2, cosx2, wth, cn, float(lambda0),
        lambda0_range, chi0, tone_control, ntime, True,
    )
    psd[jmax] = px
    tr_val = trace

    # ---- post-processing (python tail of fit_lomb_scargle) ----
    hat_hat = hat_hat / s0
    ii = np.arange(nharm)
    soln = soln.copy()
    soln[0:nharm] /= (1.0 + ii) ** 2
    soln[nharm:] /= (1.0 + ii) ** 2
    hat_matr0 = np.outer(hat0[:, 0], wth0)
    for i in range(detrend_order):
        hat_matr0 += np.outer(hat0[:, i + 1], wth[i + 1])

    modl = hat_matr.T @ soln
    coef0 = soln @ hat0
    coef = coef - coef0
    hat_matr = hat_matr - hat_matr0

    out = {}
    out["psd"] = psd
    out["chi0"] = chi0 * s0
    if detrend_order > 0:
        out["trend"] = (coef @ wth) / wth0
    else:
        out["trend"] = coef[0] + 0.0 * wth0

    out["model"] = modl / wth0 + out["trend"]

    j = int(psd.argmax())
    freq = f0 + df * j + (ifreq / freq_zoom - 0.5) * df
    out["freq"] = freq
    out["s0"] = s0
    out["chi2"] = (chi0 - psd[j]) * s0
    out["psd"] = psd[j] * 0.5 / varcn
    out["lambda"] = lam_final * s0
    out["trace"] = tr_val
    out["nu0"] = ntime - npar
    npars = (1.0 - tr_val) * ntime / 2.0
    out["nu"] = ntime - npars
    out["npars"] = npars
    out["freqs_vector"] = (
        f0 + df * np.arange(len(psd)) + (ifreq / freq_zoom - 0.5) * df
    )
    out["psd_vector"] = psd

    A0, B0 = soln[0:nharm], soln[nharm:]
    scale2 = np.hstack(((1.0 + ii) ** 2, (1.0 + ii) ** 2))
    hat_hat = hat_hat / np.outer(scale2, scale2)
    err2 = np.diag(hat_hat)
    vA0, vB0 = err2[0:nharm], err2[nharm:]
    covA0B0 = hat_hat[(ii, nharm + ii)]

    vmodl = vcn / s0 + (hat_matr / wth0).T @ (hat_hat @ (hat_matr / wth0))
    vmodl0 = vcn / s0 + (hat_matr0 / wth0).T @ (hat_hat @ (hat_matr0 / wth0))
    out["model_error"] = np.sqrt(np.diag(vmodl))
    out["trend_error"] = np.sqrt(np.diag(vmodl0))

    amp = np.sqrt(A0**2 + B0**2)
    damp = np.sqrt(A0**2 * vA0 + B0**2 * vB0 + 2.0 * A0 * B0 * covA0B0) / amp
    phase = np.arctan2(B0, A0)
    rel_phase = phase - phase[0] * (1.0 + ii)
    rel_phase = np.arctan2(np.sin(rel_phase), np.cos(rel_phase))
    dphase = 0.0 * rel_phase
    for i in range(nharm - 1):
        jh = i + 1
        v = np.array([
            -A0[0] * (1.0 + jh) / amp[0] ** 2,
            B0[0] * (1.0 + jh) / amp[0] ** 2,
            A0[jh] / amp[jh] ** 2,
            -B0[jh] / amp[jh] ** 2,
        ])
        jj = np.array([0, nharm, jh, jh + nharm])
        m = hat_hat[np.ix_(jj, jj)]
        dphase[jh] = np.sqrt(float(v @ m @ v))

    out["amplitude"] = amp
    out["amplitude_error"] = damp
    out["rel_phase"] = rel_phase
    out["rel_phase_error"] = dphase
    out["time0"] = -phase[0] / (_TWO_PI * freq)

    ncp = norm.cumprod()
    out["trend_coef"] = coef / ncp
    out["y_offset"] = out["trend_coef"][0] - cn0
    out["trend_coef_error"] = np.sqrt(
        (1.0 / s0 + np.diag(hat0.T @ (hat_hat @ hat0))) / ncp**2
    )
    out["y_offset_error"] = out["trend_coef_error"][0]

    fstat = 0.5 * (ntime - 1.0 - detrend_order) * (1.0 - out["chi2"] / out["chi0"])
    prob = _f_sf_d1_2(fstat, ntime - 1 - detrend_order)
    out["signif"] = _lprob2sigma(np.log(prob))
    return out


def lomb_scargle_model(time, signal, error, sys_err=0.05, nharm=8, nfreq=3,
                       tone_control=5.0):
    """Sequential nfreq-frequency multi-harmonic fit on residuals (port of
    lomb_scargle_model, lomb_scargle.py:6-158; normalize=False path)."""
    time = np.asarray(time, dtype=np.float64)
    time = time - time.min()  # conditioning, same as reference
    signal = np.asarray(signal, dtype=np.float64).copy()
    error = np.asarray(error, dtype=np.float64)

    dy0 = np.sqrt(error**2 + sys_err**2)
    wt = 1.0 / dy0**2
    chi0 = float((signal**2) @ wt)

    f0 = 1.0 / time.max()
    df = 0.8 / time.max()
    fmax = 33.0
    numf = int((fmax - f0) / df) + 1
    if f0 >= fmax:
        raise ValueError(f"f0 {f0} should be smaller than fmax {fmax}")

    model_dict = {"freq_fits": []}
    lambda0_range = [-np.log10(len(time)), 8]
    for i in range(nfreq):
        fit = fit_lomb_scargle(
            time, signal, dy0, f0, df, numf,
            tone_control=tone_control, lambda0_range=lambda0_range,
            nharm=nharm, detrend_order=1 if i == 0 else 0,
        )
        if i == 0:
            model_dict["trend"] = fit["trend_coef"][1]
        norm_residual = signal - fit["model"]
        signal = norm_residual
        model_dict["freq_fits"].append(fit)
        model_dict["freq_fits"][-1]["resid"] = norm_residual
        if i == 0:
            model_dict["varrat"] = float((norm_residual**2) @ wt) / chi0

    model_dict["nfreq"] = nfreq
    model_dict["nharm"] = nharm
    model_dict["chi2"] = fit["chi2"]
    model_dict["f0"] = f0
    model_dict["fmax"] = fmax
    model_dict["df"] = df
    model_dict["numf"] = numf
    return model_dict


# ----------------------------------------------------------- getters


def ls_get_frequency(model, i):
    return model["freq_fits"][i - 1]["freq"]


def ls_get_amplitude(model, i, j):
    return model["freq_fits"][i - 1]["amplitude"][j - 1]


def ls_get_rel_phase(model, i, j):
    return model["freq_fits"][i - 1]["rel_phase"][j - 1]


def ls_get_amplitude_ratio(model, i):
    return (
        model["freq_fits"][i - 1]["amplitude"][0]
        / model["freq_fits"][0]["amplitude"][0]
    )


def ls_get_frequency_ratio(model, i):
    return model["freq_fits"][i - 1]["freq"] / model["freq_fits"][0]["freq"]


def ls_get_signif_ratio(model, i):
    return model["freq_fits"][i - 1]["signif"] / model["freq_fits"][0]["signif"]


def ls_get_lambda(model):
    return model["freq_fits"][0]["lambda"]


def ls_get_signif(model):
    return model["freq_fits"][0]["signif"]


def ls_get_varrat(model):
    return model["varrat"]


def ls_get_trend(model):
    return model["trend"]


def ls_get_y_offset(model):
    return model["freq_fits"][0]["y_offset"]


# ------------------------------------------------- residual-based feats


_ALIASES = [
    {"per": 1.0, "p_low": 0.92, "p_high": 1.08, "alpha_1": 8.191855, "alpha_2": -7.976243},
    {"per": 0.5, "p_low": 0.48, "p_high": 0.52, "alpha_1": 2.438913, "alpha_2": 0.9837243},
    {"per": 1.0 / 3, "p_low": 0.325, "p_high": 0.342, "alpha_1": 2.95749, "alpha_2": -4.285432},
    {"per": 0.25, "p_low": 0.245, "p_high": 0.255, "alpha_1": 1.347657, "alpha_2": 2.326338},
]


def ls_num_alias(model):
    """Count of fitted frequencies consistent with 1-day (and sub-day)
    sampling aliases (num_alias.py:5-52)."""
    count = 0
    for fit in model["freq_fits"]:
        period = 1.0 / fit["freq"]
        for a in _ALIASES:
            cutoff = a["alpha_1"] / np.abs(period - a["per"]) ** 0.25 + a["alpha_2"]
            if a["p_low"] <= period <= a["p_high"] and fit["signif"] < cutoff:
                count += 1
                break
    return count


def _mad(x):
    return np.median(np.abs(x - np.median(x)))


def ls_scatter_res_raw(t, m, e, model):
    """MAD(final LS residual) / MAD(raw) (scatter_res_raw.py:4-13)."""
    return _mad(model["freq_fits"][-1]["resid"]) / _mad(m)


# ------------------------------------------------------ periodic model


def _nelder_mead_1d(func, x0, xatol=1e-4, fatol=1e-4, maxiter=200):
    """scipy.optimize.fmin (Nelder-Mead) for scalar x, reproducing
    scipy's initial simplex and update rules exactly."""
    rho, chi, psi, sigma = 1.0, 2.0, 0.5, 0.5
    nonzdelt, zdelt = 0.05, 0.00025
    x0 = float(x0)
    sim = np.array([x0, x0 * (1 + nonzdelt) if x0 != 0 else zdelt])
    fsim = np.array([func(sim[0]), func(sim[1])])
    ind = np.argsort(fsim)
    sim, fsim = sim[ind], fsim[ind]
    it = 1
    while it < maxiter:
        if (
            np.max(np.abs(sim[1:] - sim[0])) <= xatol
            and np.max(np.abs(fsim[1:] - fsim[0])) <= fatol
        ):
            break
        xbar = sim[0]
        xr = (1 + rho) * xbar - rho * sim[-1]
        fxr = func(xr)
        doshrink = False
        if fxr < fsim[0]:
            xe = (1 + rho * chi) * xbar - rho * chi * sim[-1]
            fxe = func(xe)
            if fxe < fxr:
                sim[-1], fsim[-1] = xe, fxe
            else:
                sim[-1], fsim[-1] = xr, fxr
        else:
            if fxr < fsim[-2]:
                sim[-1], fsim[-1] = xr, fxr
            else:
                if fxr < fsim[-1]:
                    xc = (1 + psi * rho) * xbar - psi * rho * sim[-1]
                    fxc = func(xc)
                    if fxc <= fxr:
                        sim[-1], fsim[-1] = xc, fxc
                    else:
                        doshrink = True
                else:
                    xcc = (1 - psi) * xbar + psi * sim[-1]
                    fxcc = func(xcc)
                    if fxcc < fsim[-1]:
                        sim[-1], fsim[-1] = xcc, fxcc
                    else:
                        doshrink = True
                if doshrink:
                    sim[1] = sim[0] + sigma * (sim[1] - sim[0])
                    fsim[1] = func(sim[1])
        ind = np.argsort(fsim)
        sim, fsim = sim[ind], fsim[ind]
        it += 1
    return sim[0]


def periodic_model(model):
    """Extremes of the 8-harmonic freq1 model located by Nelder-Mead from
    staggered starts (periodic_model.py:6-42, including the fudge starts
    and the as-written phi1_phi2 formula)."""
    A = model["freq_fits"][0]["amplitude"]
    ph = model["freq_fits"][0]["rel_phase"]

    def model_f(t):
        return sum(
            A[h] * np.sin(_TWO_PI * (h + 1) * t + ph[h]) for h in range(8)
        )

    def model_neg(t):
        return -model_f(t)

    min_1 = _nelder_mead_1d(model_neg, 0.05)
    max_2 = _nelder_mead_1d(model_f, min_1 + 0.01)
    min_3 = _nelder_mead_1d(model_neg, max_2 + 0.01)
    max_4 = _nelder_mead_1d(model_f, min_3 + 0.01)
    return {
        "phi1_phi2": (min_3 - max_2) / (max_4 / min_3),
        "min_delta_mags": abs(model_f(min_1) - model_f(min_3)),
        "max_delta_mags": abs(model_f(max_2) - model_f(max_4)),
    }


def pm_max_delta_mags(pm):
    return pm["max_delta_mags"]


def pm_min_delta_mags(pm):
    return pm["min_delta_mags"]


def pm_phi1_phi2(pm):
    return pm["phi1_phi2"]


# ------------------------------------------------------ period folding


def period_folding(x, y, dy, model, sys_err=0.05):
    """Refit at fixed freq1/2, fold the model by 2P, slope percentiles +
    P90 residual ratio inputs (period_folding.py:7-73)."""
    # NOTE: unlike lomb_scargle_model, the reference does NOT shift x here —
    # the refit and the fold run on raw time values (period_folding.py:30,66)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    dy = np.asarray(dy, dtype=np.float64)
    model_vals = np.zeros(len(y))
    freq_2p = model["freq_fits"][0]["freq"] * 0.5
    ytest = y.copy()
    dy0 = np.sqrt(dy**2 + sys_err**2)
    lambda0_range = [-np.log10(len(x)), 8.0]
    fit = fit_lomb_scargle(
        x, ytest, dy0, freq_2p, model["df"], 1,
        lambda0_range=lambda0_range, nharm=model["nharm"], detrend_order=0,
    )
    model_vals += fit["model"]
    ytest = ytest - fit["model"]
    for _ in range(1, model["nfreq"]):
        fit = fit_lomb_scargle(
            x, ytest, dy0, model["f0"], model["df"], model["numf"],
            lambda0_range=lambda0_range, nharm=model["nharm"], detrend_order=0,
        )
        ytest = ytest - fit["model"]

    t_fold = x % (1.0 / freq_2p)
    order = np.argsort(t_fold)
    t_fold = t_fold[order]
    y_fold = model_vals[order]
    return {
        "1p_resid": model["freq_fits"][-1]["resid"],
        "2p_resid": ytest,
        "folded_slopes": np.diff(y_fold) / np.diff(t_fold),
    }


def pf_slope_percentile(pf, alpha):
    return np.percentile(pf["folded_slopes"], alpha)


def pf_medperc90_2p_p(pf):
    return np.percentile(np.abs(pf["2p_resid"]), 90) / np.percentile(
        np.abs(pf["1p_resid"]), 90
    )


def p2p_model(x, y, frequency):
    """Point-to-point scatter of data folded at P and 2P vs unfolded
    (period_folding.py:76-107; Kim QSO eta)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    sumsqr_unfold = float(np.sum(np.diff(y) ** 2))
    median_diff = np.median(np.abs(np.diff(y)))
    mad = _mad(y)
    x = x - x.min()

    t2 = x % (2.0 / frequency)
    y2 = y[np.argsort(t2)]
    sumsqr_2p = float(np.sum(np.diff(y2) ** 2))

    t1 = x % (1.0 / frequency)
    y1 = y[np.argsort(t1)]
    med_1p = np.median(np.abs(np.diff(y1)))

    return {
        "scatter_2praw": sumsqr_2p / sumsqr_unfold,
        "scatter_over_mad": median_diff / mad,
        "ssqr_diff_over_var": sumsqr_unfold / ((len(y) - 1) * np.var(y)),
        "scatter_pfold_over_mad": med_1p / mad,
    }


def p2p_scatter_2praw(p2p):
    return p2p["scatter_2praw"]


def p2p_scatter_over_mad(p2p):
    return p2p["scatter_over_mad"]


def p2p_scatter_pfold_over_mad(p2p):
    return p2p["scatter_pfold_over_mad"]


def p2p_ssqr_diff_over_var(p2p):
    return p2p["ssqr_diff_over_var"]
