"""Property check, no Spark: `_argmin_sq` (the PQ/IVF nearest-centroid
assignment) picks the same index as the naive tensor argmin wherever
the squared distances are finite."""

import numpy as np

from cesium_spark.operators.similarity import _argmin_sq


def _trial(rng):
    n, k, d = rng.integers(1, 201), rng.integers(1, 65), rng.integers(1, 17)
    scale = 10.0 ** rng.uniform(-150, 150)
    cents = rng.standard_normal((k, d))
    if k > 1:  # duplicated codewords: the first index must win
        dup = rng.integers(0, k, rng.integers(1, k))
        cents[rng.integers(0, k, len(dup))] = cents[dup]
    sub = rng.standard_normal((n, d))
    hit = rng.random(n) < 0.3  # rows equal to a codeword
    sub[hit] = cents[rng.integers(0, k, hit.sum())]
    if rng.random() < 0.5:  # coarse grid: many exactly tied distances
        cents, sub = np.round(cents), np.round(sub)
    return sub * scale, cents * scale


def test_argmin_sq_matches_naive_argmin_on_finite_distances():
    rng = np.random.default_rng(20261019)
    checked = 0
    for _ in range(300):
        sub, cents = _trial(rng)
        d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assert np.isfinite(d2).all()  # the domain the claim covers
        np.testing.assert_array_equal(_argmin_sq(sub, cents), d2.argmin(1))
        checked += len(sub)
    assert checked > 10_000
