"""SparkXY (distributed passes) vs LocalXY (numpy) parity: whole fits of
the iterative families, and every single pass statistic — proves the
100 TB path computes the same model."""

import numpy as np
import pytest

from sgdnet_spark.glm import suffstats
from sgdnet_spark.glm.providers import LocalXY, SparkXY
from sgdnet_spark.glm.sgdnet import sgdnet


@pytest.fixture(scope="module")
def multi_df(spark):
    rng = np.random.default_rng(23)
    n, p = 600, 4
    x = rng.normal(size=(n, p))
    eta = np.stack([x @ np.array([1.0, 0, -0.5, 0]), x @ np.array([-0.5, 0.5, 0, 0]),
                    x @ np.array([0, -0.3, 0.4, 0])], axis=1)
    pr = np.exp(eta - eta.max(1, keepdims=True))
    pr /= pr.sum(1, keepdims=True)
    yi = np.array([rng.choice(3, p=pi) for pi in pr])
    cols = [f"x{i}" for i in range(p)]
    rows = [(*map(float, xi), f"c{int(c)}") for xi, c in zip(x, yi)]
    return spark.createDataFrame(rows, ", ".join(f"{c} double" for c in cols) + ", y string"), cols


def test_multinomial_spark_vs_local(multi_df):
    df, cols = multi_df
    fs = sgdnet(df, cols, "y", family="multinomial", alpha=0.5, nlambda=6,
                lambda_min_ratio=1e-2, solver="spark")
    fl = sgdnet(df, cols, "y", family="multinomial", alpha=0.5, nlambda=6,
                lambda_min_ratio=1e-2, solver="local")
    assert np.allclose(fs.lambdas, fl.lambdas, rtol=1e-12)
    assert np.allclose(fs.beta, fl.beta, rtol=1e-6, atol=1e-9)
    assert np.allclose(fs.a0, fl.a0, rtol=1e-6, atol=1e-9)
    assert np.allclose(fs.dev_ratio, fl.dev_ratio, rtol=1e-8)


def test_mgaussian_spark_vs_local(spark):
    rng = np.random.default_rng(29)
    n, p = 500, 3
    x = rng.normal(size=(n, p))
    y = x @ np.array([[1.0, -1.0], [0.0, 0.5], [0.3, 0.0]]) + rng.normal(scale=0.2, size=(n, 2))
    cols = [f"x{i}" for i in range(p)]
    rows = [(*map(float, xi), float(a), float(b)) for xi, (a, b) in zip(x, y)]
    df = spark.createDataFrame(rows, ", ".join(f"{c} double" for c in cols) + ", y1 double, y2 double")
    fs = sgdnet(df, cols, ["y1", "y2"], family="mgaussian", nlambda=6, solver="spark")
    fl = sgdnet(df, cols, ["y1", "y2"], family="mgaussian", nlambda=6, solver="local")
    assert np.allclose(fs.beta, fl.beta, rtol=1e-7, atol=1e-10)
    assert np.allclose(fs.a0, fl.a0, rtol=1e-7, atol=1e-10)


@pytest.fixture(scope="module")
def pass_providers(spark):
    """The same weighted, offset frame as a LocalXY and as a SparkXY, per
    response layout (0/1, counts, one-hot over 3 classes)."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(41)
    n, p, k = 300, 4, 3
    x = rng.normal(size=(n, p)) * [1.0, 2.0, 0.5, 3.0] + [0.0, 1.0, -2.0, 0.5]
    w = rng.uniform(0.2, 2.0, n)
    w *= n / w.sum()
    cls = rng.integers(0, k, n)
    pdf = pd.DataFrame(x, columns=[f"f{i}" for i in range(p)])
    pdf["yb"] = (rng.random(n) < 0.4).astype(float)
    pdf["yp"] = rng.poisson(1.5, n).astype(float)
    onehot = np.eye(k)[cls]
    for c in range(k):
        pdf[f"c{c}"] = onehot[:, c]
        pdf[f"oc{c}"] = rng.normal(scale=0.2, size=n)
    pdf["w"], pdf["o"] = w, rng.normal(scale=0.3, size=n)
    df = spark.createDataFrame(pdf).repartition(3)
    feats = [f"f{i}" for i in range(p)]
    layouts = {
        "binomial": (["yb"], "o"), "poisson": (["yp"], "o"),
        "multinomial": ([f"c{c}" for c in range(k)], [f"oc{c}" for c in range(k)]),
    }
    out = {}
    for name, (ys, off) in layouts.items():
        local = LocalXY(x, pdf[ys].to_numpy(), w=w, o=pdf[off].to_numpy())
        mom = local.moments()
        xy = suffstats.assemble(df, feats, ys, weight_expr=F.col("w"), offset_expr=off)
        dist = SparkXY(xy, p, len(ys))
        for prov in (local, dist):
            prov.set_standardization(mom.x_mean, 1.0 / mom.x_std())
        out[name] = (local, dist)
    return out


_COEF = np.array([0.4, -0.3, 0.2, 0.1])
_COEFS = np.array([[0.4, -0.3, 0.2, 0.1], [-0.2, 0.1, 0.0, 0.3], [0.1, 0.2, -0.4, 0.0]])
_B0S = np.array([0.1, -0.2, 0.05])



def _moments_and_gram(pv):
    # at this p SparkXY.moments takes the JVM aggregation; the Arrow
    # kernel pass is reached directly
    if isinstance(pv, SparkXY):
        return suffstats.moments_and_gram(pv.xy, pv.p, pv.k)
    return pv.moments()


# statistic -> (response layout, call on a provider)
_PASSES = {
    "moments": ("multinomial", lambda pv: pv.moments()),
    "moments_and_gram": ("multinomial", _moments_and_gram),
    "moments_diag": ("multinomial", lambda pv: pv.moments_diag()),
    "gradient_gaussian": ("poisson", lambda pv: pv.gradient_gaussian(_COEF, 0.3)),
    "cov_vec": ("binomial", lambda pv: pv.cov_vec(_COEF)),
    "grad_binomial": ("binomial", lambda pv: pv.grad_binomial(_COEF, -0.2)),
    "grad_poisson": ("poisson", lambda pv: pv.grad_poisson(_COEF, 0.1)),
    "grad_multinomial": ("multinomial", lambda pv: pv.grad_multinomial(_COEFS, _B0S)),
    "irls_binomial": ("binomial", lambda pv: pv.irls_binomial(_COEF, -0.2)),
    "irls_binomial_cols": ("binomial", lambda pv: pv.irls_binomial(_COEF[[0, 3]], -0.2,
                                                                    cols=np.array([0, 3]))),
    "irls_poisson": ("poisson", lambda pv: pv.irls_poisson(_COEF, 0.1)),
    "irls_multinomial_all": ("multinomial", lambda pv: pv.irls_multinomial_all(_COEFS, _B0S)),
}


def _arrays(stat):
    if hasattr(stat, "sum_xx"):
        return [stat.n, stat.sum_x, stat.sum_y, stat.sum_xx, stat.sum_xy, stat.sum_yy]
    if isinstance(stat, (tuple, list)):
        return [a for s in stat for a in _arrays(s)]
    return [stat]


@pytest.mark.parametrize("name", sorted(_PASSES))
def test_pass_statistics_local_vs_spark(pass_providers, name):
    """Each provider pass, one call on each side: both run the same
    suffstats kernel, so they may differ only in summation order."""
    layout, call = _PASSES[name]
    local, dist = pass_providers[layout]
    got_local, got_dist = _arrays(call(local)), _arrays(call(dist))
    assert len(got_local) == len(got_dist)
    for a, b in zip(got_local, got_dist):
        a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
        assert a.shape == b.shape
        np.testing.assert_allclose(b, a, rtol=1e-10, atol=1e-10 * np.max(np.abs(a)))
