"""Option-grid invariants — mirrors reference test-sparse.R /
test-options.R structure: every family × intercept × alpha × standardize
combination fits cleanly and honors basic path invariants, on the
Gram/IRLS drivers and on the FISTA drivers."""

import numpy as np
import pytest

from sgdnet_spark.glm import path as P
from sgdnet_spark.glm.providers import LocalXY


def _data(family, rng):
    n, p = 400, 3
    x = rng.normal(size=(n, p)) * np.array([1.0, 3.0, 0.5])
    if family == "gaussian":
        y = 1.0 + x @ np.array([1.0, -0.5, 0.2]) + rng.normal(scale=0.3, size=n)
        return x, y.reshape(-1, 1)
    if family == "mgaussian":
        y = x @ np.array([[1.0, 0.0], [-0.5, 0.5], [0.0, 0.3]]) + rng.normal(scale=0.3, size=(n, 2))
        return x, y
    eta = x @ np.array([1.0, -0.5, 0.0])
    if family == "binomial":
        y = (rng.random(n) < 1 / (1 + np.exp(-eta))).astype(float)
        return x, y.reshape(-1, 1)
    eta3 = np.stack([eta, -eta, 0.3 * eta], axis=1)
    pr = np.exp(eta3 - eta3.max(1, keepdims=True))
    pr /= pr.sum(1, keepdims=True)
    yi = np.array([rng.choice(3, p=pi) for pi in pr])
    return x, np.eye(3)[yi]


DRIVERS = {
    "gaussian": P.gaussian_path,
    "binomial": P.binomial_path,
    "multinomial": P.multinomial_path,
    "mgaussian": P.mgaussian_path,
    "gaussian_path_fista": P.gaussian_path_fista,
    "binomial_path_fista": P.binomial_path_fista,
    "multinomial_path_fista": P.multinomial_path_fista,
}


@pytest.mark.parametrize("family", list(DRIVERS))
@pytest.mark.parametrize("intercept", [True, False])
@pytest.mark.parametrize("alpha", [0.0, 0.5, 1.0])
@pytest.mark.parametrize("standardize", [True, False])
def test_grid(family, intercept, alpha, standardize):
    # zlib.crc32, not hash(): str hashing is salted per process, which
    # made the dataset (and one boundary assertion) vary run to run
    import zlib

    rng = np.random.default_rng(zlib.crc32(repr((family, intercept, alpha, standardize)).encode()))
    x, y = _data(family.split("_")[0], rng)
    res = DRIVERS[family](
        LocalXY(x, y), alpha=alpha, nlambda=5, lambda_min_ratio=1e-2,
        standardize=standardize, intercept=intercept,
    )
    assert len(res.lambdas) == 5
    assert np.all(np.diff(res.lambdas) < 0)  # strictly decreasing
    assert np.all(np.isfinite(res.beta)) and np.all(np.isfinite(res.a0))
    assert np.all(np.isfinite(res.dev_ratio))
    if alpha > 0:
        assert res.df[0] == 0  # lambda_max kills everything (L1 active)
    assert res.dev_ratio[-1] >= res.dev_ratio[0] - 1e-9
    if not intercept:
        a0 = np.atleast_1d(res.a0[..., -1])
        assert np.allclose(a0, 0.0)
