"""Per-feature unit tests against closed forms, brute-force oracles, and
the reference's hard-coded regression constants (SURVEY.md §5)."""

import itertools
import math

import numpy as np
import numpy.testing as npt

from cesium_spark.features import cadence as cad
from cesium_spark.features import general as gen
from cesium_spark.features import stats as st
from cesium_spark.features.registry import compute_features

from conftest import irregular_random


def test_basic_stats_closed_form():
    t, m, e = irregular_random()
    f = compute_features(t, m, e, ["n_epochs", "mean", "median", "maximum", "minimum",
                                   "std", "amplitude", "total_time", "avgt",
                                   "avg_err", "med_err", "std_err"])
    npt.assert_allclose(f["n_epochs"], 50)
    npt.assert_allclose(f["mean"], np.mean(m))
    npt.assert_allclose(f["median"], np.median(m))
    npt.assert_allclose(f["maximum"], np.max(m))
    npt.assert_allclose(f["minimum"], np.min(m))
    npt.assert_allclose(f["std"], np.std(m))
    npt.assert_allclose(f["amplitude"], (np.max(m) - np.min(m)) / 2.0)
    npt.assert_allclose(f["total_time"], np.max(t) - np.min(t))
    npt.assert_allclose(f["avgt"], np.mean(t))
    npt.assert_allclose(f["avg_err"], np.mean(e))
    npt.assert_allclose(f["med_err"], np.median(e))
    npt.assert_allclose(f["std_err"], np.std(e))


def test_moment_skew_kurtosis():
    # scipy.stats.skew/kurtosis (biased, Fisher) reference values computed
    # from the moment definitions directly
    x = np.array([1.0, 2.0, 2.5, 400.0, -3.0, 1.1])
    d = x - x.mean()
    m2, m3, m4 = (d**2).mean(), (d**3).mean(), (d**4).mean()
    npt.assert_allclose(st.moment_skew(x), m3 / m2**1.5)
    npt.assert_allclose(st.moment_kurtosis(x), m4 / m2**2 - 3)
    assert math.isnan(st.moment_skew(np.ones(5)))


def test_percentileofscore_rank_semantics():
    # matches scipy.stats.percentileofscore(kind='rank') documented behavior
    a = np.array([1, 2, 3, 4])
    npt.assert_allclose(st.percentileofscore_rank(a, 3), 75.0)
    npt.assert_allclose(st.percentileofscore_rank(a, 0), 0.0)
    npt.assert_allclose(st.percentileofscore_rank(a, 5), 100.0)
    npt.assert_allclose(st.percentileofscore_rank(np.array([1, 2, 2, 3]), 2), 62.5)


def test_cad_prob_endpoints():
    t, m, e = irregular_random()
    cads = np.diff(t)
    f = compute_features(t, m, e, ["cad_probs_1", "cad_probs_10000000"])
    npt.assert_allclose(
        f["cad_probs_1"], st.percentileofscore_rank(cads, 1.0 / (24 * 60)) / 100.0
    )
    npt.assert_allclose(f["cad_probs_10000000"], 1.0)  # huge lag > all cads


def test_delta_t_hist_brute_force():
    times, _, _ = irregular_random(500)
    deltas = [b - a for a, b in itertools.combinations(times, 2)]
    bins = np.linspace(0, times.max() - times.min(), 51)
    expected = np.histogram(deltas, bins=bins)[0]
    npt.assert_allclose(cad.pairwise_dt_hist(times), expected, atol=2)


def test_normalized_hist_density():
    times, _, _ = irregular_random(500)
    deltas = [b - a for a, b in itertools.combinations(times, 2)]
    bins = np.linspace(0, times.max() - times.min(), 51)
    expected = np.histogram(deltas, bins=bins, density=True)[0]
    nhist = cad.normalized_hist(cad.pairwise_dt_hist(times), times.max() - times.min())
    npt.assert_allclose(nhist, expected, atol=0.01)


def test_sorted_peaks_edge_cases():
    npt.assert_allclose(cad.sorted_local_maxima(np.array([0, 5, 3, 1])), [(1, 5)])
    npt.assert_allclose(
        cad.sorted_local_maxima(np.array([0, 5, 3, 6, 1])), [(3, 6), (1, 5)]
    )
    npt.assert_allclose(
        cad.sorted_local_maxima(np.array([3, 1, 3])), [(0, 3), (2, 3)]
    )
    npt.assert_allclose(cad.sorted_local_maxima(np.array([0, 3, 3, 3, 0])), [(1, 3)])
    npt.assert_allclose(cad.sorted_local_maxima(np.array([0, 3, 3, 5, 0])), [(3, 5)])
    npt.assert_allclose(cad.sorted_local_maxima(np.array([3, 3])), [(0, 3)])


def test_peak_ratio_and_bin():
    peaks = cad.sorted_local_maxima(np.array([0, 5, 2, 3, 1]))
    npt.assert_almost_equal(cad.nth_peak_ratio(peaks, 0, 1), 5 / 3)
    assert math.isnan(cad.nth_peak_ratio(peaks, 1, 6))
    npt.assert_almost_equal(cad.nth_peak_bin(peaks, 0), 1)
    assert math.isnan(cad.nth_peak_bin(peaks, 5))


def test_step_ratios_matches_reference_formula():
    cads = np.array([1.0, 2.0, 4.0, 8.0, 16.0])
    npt.assert_allclose(
        cad.step_ratios(cads), (cads[2:] + cads[:-2]) / (cads[1:-1] - cads[:-2])
    )


def test_weighted_stats_closed_form():
    t, m, e = irregular_random()
    w = 1.0 / e**2
    mu = np.average(m, weights=w)
    npt.assert_allclose(gen.weighted_average(m, e), mu)
    npt.assert_allclose(
        gen.weighted_std_dev(m, e), np.sqrt(np.average((m - mu) ** 2, weights=w))
    )
    npt.assert_allclose(
        gen.percent_beyond_1_std(m, e),
        np.mean(np.abs(m - mu) > gen.weighted_std_dev(m, e)),
    )


def test_max_slope():
    t = np.array([0.0, 1.0, 2.0, 4.0])
    m = np.array([0.0, 3.0, -1.0, 0.0])
    npt.assert_allclose(gen.max_slope(t, m), 4.0)


def test_stetson_regression_constants():
    # reference hard-coded values (test_general_features.py:279,288)
    t, m, e = irregular_random(size=201)
    f = compute_features(t, m, e, ["stetson_j", "stetson_k"])
    npt.assert_allclose(f["stetson_j"], 7.591347175195703)
    npt.assert_allclose(f["stetson_k"], 1.0087218792719013)


def test_stetson_large_sample_approximations():
    t, m, e = irregular_random(size=201)
    dists = np.sqrt(201 / 200.0) * (m - np.mean(m)) / 0.1
    f = compute_features(t, m, e, ["stetson_j", "stetson_k"])
    npt.assert_allclose(
        f["stetson_j"],
        np.mean(np.sign(dists**2 - 1) * np.sqrt(np.abs(dists**2 - 1))),
        rtol=1e-2,
    )
    npt.assert_allclose(
        f["stetson_k"],
        1.0 / 0.798 * np.mean(np.abs(dists)) / np.sqrt(np.mean(dists**2)),
        rtol=5e-4,
    )


def test_norm_ppf_roundtrip():
    p = np.array([1e-12, 1e-6, 0.01, 0.3, 0.5, 0.7, 0.99, 1 - 1e-9])
    z = st.norm_ppf(p)
    # Phi(ppf(p)) == p via erfc
    back = np.array([0.5 * math.erfc(-zz / math.sqrt(2)) for zz in z])
    npt.assert_allclose(back, p, rtol=1e-12)


def test_norm_logcdf_tail_continuity():
    # erfc path and asymptotic path agree where they hand off
    for z in (-30.0, -35.9, -36.1, -38.0):
        direct = st.norm_logcdf(np.array([z]))[0]
        z2 = z * z
        asym = -0.5 * z2 - math.log(-z) - 0.5 * math.log(2 * math.pi) + math.log1p(
            -1 / z2 + 3 / z2**2
        )
        npt.assert_allclose(direct, asym, rtol=1e-4)


def test_nan_on_error_policy():
    # zero-length series: most features raise internally -> NaN, n_epochs = 0
    f = compute_features(np.array([]), np.array([]), np.array([]),
                         ["n_epochs", "mean", "amplitude", "cads_avg"])
    assert f["n_epochs"] == 0
    assert math.isnan(f["amplitude"])
    assert math.isnan(f["cads_avg"])


def test_custom_functions():
    t, m, e = irregular_random()
    f = compute_features(
        t, m, e, ["my_range", "meanmed"],
        custom_functions={
            "my_range": lambda t, m, e: np.max(m) - np.min(m),
            "meanmed": (lambda a, b: a - b, "mean", "median"),
        },
    )
    npt.assert_allclose(f["my_range"], np.max(m) - np.min(m))
    npt.assert_allclose(f["meanmed"], np.mean(m) - np.median(m))


def test_unknown_feature_is_nan():
    t, m, e = irregular_random()
    f = compute_features(t, m, e, ["no_such_feature"])
    assert math.isnan(f["no_such_feature"])


def test_segmented_matches_pergroup_kernel():
    """fastpath.segmented_features == registry.compute_features for every
    fast feature, across group sizes incl. 1 and 2 (NaN semantics too)."""
    from cesium_spark.features.fastpath import FAST_FEATS, segmented_features

    rng = np.random.RandomState(3)
    feats = sorted(FAST_FEATS)
    sizes = [1, 2, 3, 5, 50, 229, 400, 2, 1, 17]
    ts, ms, es, starts, off = [], [], [], [], 0
    for s in sizes:
        starts.append(off)
        ts.append(np.sort(rng.uniform(0, 5, s)))
        ms.append(rng.normal(100, 30, s))
        es.append(rng.exponential(0.1, s))
        off += s
    t, m, e = np.concatenate(ts), np.concatenate(ms), np.concatenate(es)
    res = segmented_features(t, m, e, np.array(starts), feats)
    for gi, s in enumerate(sizes):
        sl = slice(starts[gi], starts[gi] + s)
        want = compute_features(t[sl], m[sl], e[sl], feats)
        for f in feats:
            got, w = res[f][gi], want[f]
            assert (math.isnan(got) and math.isnan(w)) or np.isclose(
                got, w, rtol=1e-9, atol=1e-12
            ), (gi, s, f, got, w)


def test_segmented_all_singletons():
    """A batch where every group has one row: cadence feats all NaN."""
    from cesium_spark.features.fastpath import FAST_FEATS, segmented_features

    feats = sorted(FAST_FEATS)
    t = np.array([0.0, 1.0, 2.0])
    m = np.array([5.0, 6.0, 7.0])
    e = np.full(3, 1e-4)
    res = segmented_features(t, m, e, np.array([0, 1, 2]), feats)
    assert np.isnan(res["cads_med"]).all()
    assert np.isnan(res["max_slope"]).all()
    npt.assert_allclose(res["mean"], m)
    npt.assert_allclose(res["n_epochs"], 1.0)


def test_segmented_percent_amplitude_underflowed_median():
    """Text lengths near 1000 underflow the linearized flux 10**(-0.4 m):
    with a zero median one ratio is inf and the other NaN, and the fast
    path must pick like the registry's Python max (inf), not NaN."""
    from cesium_spark.features.fastpath import segmented_features

    t = np.array([0, .1, .2, .2, .3, .5, .55])
    m = np.array([900, 700, 1000, 950, 980, 990, 1200], dtype=float)
    e = np.full(len(t), 1e-4)
    want = compute_features(t, m, e, ["percent_amplitude"])["percent_amplitude"]
    with np.errstate(divide="ignore", invalid="ignore"):
        got = segmented_features(t, m, e, np.array([0]), ["percent_amplitude"])
    assert want == math.inf
    assert got["percent_amplitude"][0] == want


def test_period_fast_constant_series_returns_nan():
    """Review finding: zero-variance input (YY=0 -> all-NaN power) must
    surface as NaN like the registry's error policy, not a TypeError."""
    import numpy as np
    from cesium_spark.features.period_fast import period_fast

    t = np.linspace(0, 10, 50)
    out = period_fast(t, np.full(50, 3.0), np.full(50, 0.1))
    assert np.isnan(out)
