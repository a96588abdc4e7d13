"""predict / score / deviance / cv — mirrors reference
tests/testthat/test-predictions.R, test-deviance.R, test-cross-validation.R."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sgdnet_spark.glm import cv_sgdnet, score, score_np, sgdnet


@pytest.fixture(scope="module")
def gauss_df(spark):
    rng = np.random.default_rng(21)
    n, p = 400, 4
    x = rng.normal(size=(n, p))
    y = 2.0 + x @ np.array([1.0, -2.0, 0.0, 0.5]) + rng.normal(scale=0.4, size=n)
    cols = [f"x{i}" for i in range(p)]
    rows = [(*map(float, xi), float(yi)) for xi, yi in zip(x, y)]
    df = spark.createDataFrame(rows, ", ".join(f"{c} double" for c in cols) + ", y double")
    return df, cols, x, y


def test_predict_link_matches_numpy(spark, gauss_df):
    df, cols, x, y = gauss_df
    fit = sgdnet(df, cols, "y", nlambda=10)
    pred_np = fit.predict_np(x)  # (n, nl)
    s = float(fit.lambdas[5])
    out = fit.predict(df, s=s, prefix="p").select("p").toPandas()["p"].to_numpy()
    # spark rows may arrive in any order; compare sorted values
    assert np.allclose(np.sort(out), np.sort(pred_np[:, 5]), atol=1e-9)


def test_interpolation_between_lambdas(gauss_df, spark):
    df, cols, x, y = gauss_df
    fit = sgdnet(df, cols, "y", nlambda=10)
    s_mid = float((fit.lambdas[3] + fit.lambdas[4]) / 2)
    cf = fit.coef(s_mid)[:, 0]
    c3, c4 = fit.coef()[:, 3], fit.coef()[:, 4]
    frac = (s_mid - fit.lambdas[4]) / (fit.lambdas[3] - fit.lambdas[4])
    assert np.allclose(cf, c3 * frac + c4 * (1 - frac), atol=1e-12)
    # clamping outside the path range (reference predict.sgdnet.R:155)
    assert np.allclose(fit.coef(fit.lambdas[0] * 10)[:, 0], fit.coef()[:, 0])
    assert np.allclose(fit.coef(fit.lambdas[-1] / 10)[:, 0], fit.coef()[:, -1])
    with pytest.raises(ValueError, match="negative"):
        fit.coef(-1.0)


def test_coef_shape_and_nonzero(gauss_df):
    df, cols, x, y = gauss_df
    fit = sgdnet(df, cols, "y", nlambda=10)
    cf = fit.coef()
    assert cf.shape == (len(cols) + 1, 10)
    assert fit.df[0] == 0 and fit.df[-1] >= 3


def test_score_distributed_matches_numpy(gauss_df):
    df, cols, x, y = gauss_df
    fit = sgdnet(df, cols, "y", nlambda=8)
    for measure in ("mse", "mae", "deviance"):
        dist = score(fit, df, cols, "y", measure)
        loc = score_np(fit, x, y, measure)
        assert np.allclose(dist, loc, rtol=1e-9)


def test_multinomial_score_distributed_matches_numpy(spark):
    rng = np.random.default_rng(97)
    n, p, k = 500, 4, 3
    x = rng.normal(size=(n, p))
    eta = x @ rng.normal(size=(p, k))
    pr = np.exp(eta - eta.max(1, keepdims=True))
    pr /= pr.sum(1, keepdims=True)
    yi = np.array([rng.choice(k, p=pi) for pi in pr])
    names = np.array(["a", "b", "c"])
    cols = [f"x{i}" for i in range(p)]
    rows = [(*map(float, xi), str(names[c])) for xi, c in zip(x, yi)]
    df = spark.createDataFrame(rows, ", ".join(f"{c} double" for c in cols) + ", y string")
    fit = sgdnet(df, cols, "y", family="multinomial", nlambda=6, lambda_min_ratio=1e-2)
    for measure in ("deviance", "class"):
        dist = score(fit, df, cols, "y", measure)
        loc = score_np(fit, x, names[yi].astype(object), measure)
        assert np.allclose(dist, loc, rtol=1e-9), measure


def test_deviance_identity(gauss_df):
    df, cols, x, y = gauss_df
    fit = sgdnet(df, cols, "y", nlambda=8)
    dev = fit.deviance()
    assert np.allclose(dev, (1 - fit.dev_ratio) * fit.nulldev)
    # gaussian deviance at end of path ~ RSS << nulldev
    assert dev[-1] < 0.2 * fit.nulldev


def test_cv_structure(gauss_df, spark):
    df, cols, x, y = gauss_df
    cv = cv_sgdnet(df, cols, "y", alpha=[0.0, 1.0], nfolds=3, nlambda=8, type_measure="mse")
    assert cv.alpha_min in (0.0, 1.0)
    lams = cv.lambdas[cv.alphas.index(cv.alpha_min)]
    assert cv.lambda_min in lams
    # lambda_1se >= lambda_min (more regularized, reference cv_sgdnet.R:275)
    assert cv.lambda_1se >= cv.lambda_min
    assert len(cv.cv_summary) == 16
    assert cv.cv_raw[0].shape == (3, 8)
    for row in cv.cv_summary:
        assert row["ci_lo"] <= row["mean"] <= row["ci_up"]
    # the chosen fit is a full-data fit of the winning alpha
    assert cv.fit.alpha == cv.alpha_min
    # deviance.cv_sgdnet parity (reference deviance.sgdnet.R: a simple
    # wrapper over deviance.sgdnet on the full-data fit)
    assert np.array_equal(cv.deviance(), cv.fit.deviance())
    assert np.allclose(cv.deviance(), (1 - cv.fit.dev_ratio) * cv.fit.nulldev)
    with pytest.raises(ValueError):
        cv_sgdnet(df, cols, "y", nfolds=2)


def test_cv_binomial_auc(spark):
    rng = np.random.default_rng(31)
    n = 300
    x = rng.normal(size=(n, 3))
    eta = x @ np.array([1.5, -1.0, 0.0])
    yb = (rng.random(n) < 1 / (1 + np.exp(-eta))).astype(int)
    rows = [(*map(float, xi), int(yi)) for xi, yi in zip(x, yb)]
    df = spark.createDataFrame(rows, "x0 double, x1 double, x2 double, y int")
    cv = cv_sgdnet(df, ["x0", "x1", "x2"], "y", family="binomial", nfolds=3,
                   nlambda=8, lambda_min_ratio=1e-2, type_measure="auc")
    assert cv.name == "AUC"
    # auc is maximized: best-lambda mean auc should beat the null 0.5
    best = min(cv.cv_summary, key=lambda r: -r["mean"])
    assert best["mean"] > 0.6


def test_cv_fold_moments_matches_generic(gauss_df, spark):
    """The one-pass fold-moment CV == the per-(alpha, fold) refit CV:
    same cv_summary numbers, same winners."""
    df, cols, x, y = gauss_df
    kw = dict(alpha=[0.0, 1.0], nfolds=3, nlambda=6, type_measure="mse")
    fast = cv_sgdnet(df, cols, "y", **kw)
    slow = cv_sgdnet(df, cols, "y", use_fold_moments=False, **kw)
    assert fast.alpha_min == slow.alpha_min
    assert np.isclose(fast.lambda_min, slow.lambda_min)
    assert np.isclose(fast.lambda_1se, slow.lambda_1se)
    for a, b in zip(fast.cv_summary, slow.cv_summary):
        assert a["alpha"] == b["alpha"]
        assert np.isclose(a["lambda"], b["lambda"])
        assert np.isclose(a["mean"], b["mean"], rtol=1e-6)
        assert np.isclose(a["sd"], b["sd"], rtol=1e-4, atol=1e-10)


def test_cv_fold_moments_mgaussian_matches_generic(spark):
    rng = np.random.default_rng(41)
    n, p = 300, 3
    x = rng.normal(size=(n, p))
    B = rng.normal(size=(p, 2))
    y = x @ B + rng.normal(scale=0.2, size=(n, 2))
    rows = [(*map(float, xi), float(yi[0]), float(yi[1])) for xi, yi in zip(x, y)]
    df = spark.createDataFrame(rows, "x0 double, x1 double, x2 double, ya double, yb double")
    kw = dict(family="mgaussian", nfolds=3, nlambda=5, type_measure="mse")
    fast = cv_sgdnet(df, ["x0", "x1", "x2"], ["ya", "yb"], **kw)
    slow = cv_sgdnet(df, ["x0", "x1", "x2"], ["ya", "yb"], use_fold_moments=False, **kw)
    for a, b in zip(fast.cv_summary, slow.cv_summary):
        assert np.isclose(a["mean"], b["mean"], rtol=1e-6)


def test_multivariate_predict_rejects_multi_s(spark):
    rng = np.random.default_rng(3)
    x = rng.normal(size=(100, 3))
    y = x @ rng.normal(size=(3, 2))
    rows = [(*map(float, xi), float(a), float(b)) for xi, (a, b) in zip(x, y)]
    df = spark.createDataFrame(rows, "x0 double, x1 double, x2 double, ya double, yb double")
    from sgdnet_spark.glm import sgdnet
    fit = sgdnet(df, ["x0", "x1", "x2"], ["ya", "yb"], family="mgaussian", nlambda=5)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="single s"):
        fit.predict(df, s=[float(fit.lambdas[0]), float(fit.lambdas[1])])


def test_predict_coefficients_and_nonzero_types(gauss_df):
    """reference predict.sgdnet.R:105-118: predict(type='coefficients')
    == coef(); predict(type='nonzero') == nonzero index lists."""
    df, cols, x, y = gauss_df
    fit = sgdnet(df, cols, "y", nlambda=6)
    cf = fit.predict(df, type="coefficients")
    assert np.array_equal(cf, fit.coef())
    s = float(fit.lambdas[2])
    assert np.array_equal(fit.predict(df, s=s, type="coefficients"), fit.coef(s))
    nz = fit.predict(df, type="nonzero")
    assert nz == fit.nonzero()
    assert nz[0] == []  # lambda_max kills everything


def test_score_accepts_array_column_name(spark):
    """score(feature_cols='emb') — the array<numeric> single-column
    convention sgdnet() uses — must expand to element references, not
    split the name into characters."""
    import numpy as np
    import pandas as pd

    from sgdnet_spark.glm import sgdnet
    from sgdnet_spark.glm.score import score

    rng = np.random.default_rng(4)
    X = rng.normal(size=(300, 4))
    y = X @ [1.0, -0.5, 0.2, 0.0] + 0.1 * rng.normal(size=300)
    pdf = pd.DataFrame({"emb": list(X), "y": y})
    df = spark.createDataFrame(pdf)
    fit = sgdnet(df, "emb", "y", family="gaussian", nlambda=4)
    m_str = score(fit, df, "emb", "y", "mse")
    m_names = score(fit, df, None, "y", "mse")
    assert np.allclose(m_str, m_names)


def test_cv_predict_coef_reference_selector_semantics(gauss_df, spark):
    """predict.cv_sgdnet.R parity: s = c('lambda_1se', 'lambda_min') —
    match.arg makes lambda_1se the DEFAULT; string selectors resolve to
    object[[s]]; numeric s passes straight through; and prediction
    delegates to the full-data fit (stats::predict(object$fit, ...)),
    so type=/exact= compose with the selectors."""
    df, cols, x, y = gauss_df
    cv = cv_sgdnet(df, cols, "y", nfolds=3, nlambda=10, type_measure="mse")

    def col(d, name="p"):
        return d.select(name).toPandas()[name].to_numpy()

    # default == lambda_1se == explicit string == numeric passthrough
    p_default = col(cv.predict(df, prefix="p"))
    p_1se = col(cv.predict(df, s="lambda_1se", prefix="p"))
    p_1se_num = col(cv.fit.predict(df, s=cv.lambda_1se, prefix="p"))
    assert np.array_equal(p_default, p_1se)
    assert np.array_equal(p_default, p_1se_num)
    # lambda_min selector resolves to object$lambda_min
    p_min = col(cv.predict(df, s="lambda_min", prefix="p"))
    p_min_num = col(cv.fit.predict(df, s=cv.lambda_min, prefix="p"))
    assert np.array_equal(p_min, p_min_num)
    if cv.lambda_1se != cv.lambda_min:
        assert not np.array_equal(p_default, p_min)
    # coef mirrors the same defaults (coef on CV fit = coef of $fit at s)
    assert np.array_equal(cv.coef()[:, 0], cv.fit.coef(cv.lambda_1se)[:, 0])
    assert np.array_equal(cv.coef("lambda_min")[:, 0], cv.fit.coef(cv.lambda_min)[:, 0])
    # exact refit composes with the selector (predict.sgdnet exact=TRUE
    # pathway reached through the CV wrapper): at an ON-path s the exact
    # refit must agree with the stored path point
    p_exact = col(cv.predict(df, s="lambda_min", exact=True, prefix="p"))
    assert np.allclose(p_exact, p_min, atol=1e-6)


# ---- review-pass regressions: NULL labels, tie-breaks, empty frames ------


def _flat_fit(family, classnames=None, k=3, p=2, **kw):
    """Hand-built one-lambda fit with ZERO coefficients: every class eta
    ties exactly, every prediction is the intercept — the degenerate
    geometry that exposes tie-break and NULL-handling conventions."""
    from sgdnet_spark.glm.sgdnet import SgdnetFit

    multi = family in ("multinomial", "mgaussian")
    return SgdnetFit(
        family=family, alpha=1.0, lambdas=np.array([0.1]),
        a0=np.zeros((k, 1)) if multi else np.zeros(1),
        beta=np.zeros((k, p, 1)) if multi else np.zeros((p, 1)),
        df=np.array([0]), dev_ratio=np.array([0.0]), nulldev=1.0,
        npasses=0, nobs=4, feature_names=[f"x{i}" for i in range(p)],
        classnames=classnames, standardize=False, **kw,
    )


def test_class_tie_breaks_to_first_class(spark):
    """Exactly-tied etas must predict the FIRST class (numpy argmax
    convention, score_np:263) on both predict(type='class') and the
    distributed class-measure score — struct ordering on (eta, cls)
    would silently pick the lexicographically LAST class name."""
    fit = _flat_fit("multinomial", classnames=["a", "b", "z"])
    df = spark.createDataFrame(
        [(0.5, 1.0, "a"), (-1.0, 2.0, "a")], "x0 double, x1 double, y string"
    )
    pred = fit.predict(df, s=0.1, type="class", prefix="p")
    assert [r["p"] for r in pred.collect()] == ["a", "a"]
    # misclassification rate: labels are all the argmax-first class
    assert float(score(fit, df, ["x0", "x1"], "y", "class")[0]) == 0.0


def test_binomial_score_poisons_null_and_unseen_labels(spark):
    """A NULL or out-of-class label must NaN-poison the binomial score,
    not silently count as a genuine negative (training raises on such
    rows; scoring must not invent a different convention)."""
    from sgdnet_spark.glm.sparse import score_sparse

    fit = _flat_fit("binomial", classnames=[0, 1])
    # the dense rows also carry their sparse (indices, values) form
    schema = "x0 double, x1 double, y int, idx array<int>, val array<double>"
    clean = spark.createDataFrame([(0.1, 0.2, 1, [0, 1], [0.1, 0.2]),
                                   (0.3, 0.4, 0, [0, 1], [0.3, 0.4])], schema)
    assert np.isfinite(score(fit, clean, ["x0", "x1"], "y", "mse")).all()
    for bad in (None, 5):
        df = clean.union(spark.createDataFrame([(0.5, 0.5, bad, [0, 1], [0.5, 0.5])], schema))
        assert np.isnan(score(fit, df, ["x0", "x1"], "y", "mse")).all()
        for m in ("mse", "auc"):
            assert np.isnan(score_sparse(fit, df, "idx", "val", "y", m)).all(), (m, bad)


def test_multinomial_score_poisons_null_and_unseen_labels(spark):
    """The multinomial twin of the binomial poisoning test: a NULL or
    out-of-class label NaN-poisons deviance, mse, mae and class alike,
    dense and sparse (not an all-zero one-hot target, nor a dropped or
    miscounted row)."""
    from sgdnet_spark.glm.sparse import score_sparse

    fit = _flat_fit("multinomial", classnames=["a", "b", "c"])
    schema = "x0 double, x1 double, y string, idx array<int>, val array<double>"
    clean = spark.createDataFrame([(0.1, 0.2, "a", [0, 1], [0.1, 0.2]),
                                   (0.3, 0.4, "b", [0, 1], [0.3, 0.4]),
                                   (0.5, 0.6, "c", [0, 1], [0.5, 0.6])], schema)
    measures = ("deviance", "mse", "mae", "class")
    for m in measures:
        assert np.isfinite(score(fit, clean, ["x0", "x1"], "y", m)).all(), m
    for bad in (None, "zzz"):
        df = clean.union(spark.createDataFrame([(0.5, 0.5, bad, [0, 1], [0.5, 0.5])], schema))
        for m in measures:
            assert np.isnan(score(fit, df, ["x0", "x1"], "y", m)).all(), (m, bad)
            assert np.isnan(score_sparse(fit, df, "idx", "val", "y", m)).all(), (m, bad)


def test_weighted_score_skips_null_term_weights(spark, gauss_df):
    """Rows whose score term is NULL (NULL label) contribute neither to
    the numerator NOR the denominator: the weighted mean over the
    remaining rows must equal the score on the frame with those rows
    filtered out. Dividing by the TOTAL weight would bias every
    weighted score low."""
    df, cols, x, y = gauss_df
    fit = sgdnet(df, cols, "y", nlambda=5)
    wdf = df.withColumn("w", F.lit(1.0) + F.abs(F.col("x0"))).withColumn(
        "y2", F.when(F.col("x1") > 0.5, None).otherwise(F.col("y"))
    )
    withnull = score(fit, wdf, cols, "y2", "mse", weights_col="w")
    filtered = score(fit, wdf.filter(F.col("y2").isNotNull()), cols, "y2",
                     "mse", weights_col="w")
    assert np.allclose(withnull, filtered, rtol=1e-12)


def test_mgaussian_score_rejects_string_label_col(spark):
    fit = _flat_fit("mgaussian", k=2, response_names=["y1", "y2"])
    df = spark.createDataFrame([(0.1, 0.2, 1.0, 2.0)],
                               "x0 double, x1 double, y1 double, y2 double")
    with pytest.raises(ValueError, match="sequence of one column per"):
        score(fit, df, ["x0", "x1"], "y1", "mse")


def test_auc_on_empty_frame_is_nan(spark, gauss_df):
    """AUC over zero rows is undefined: the whole path must come back
    NaN (score_np convention), not TypeError on float(None) from the
    empty range aggregate."""
    df, cols, x, y = gauss_df
    ybin = (y > np.median(y)).astype(float)
    bdf = spark.createDataFrame(
        [(*map(float, xi), float(yi)) for xi, yi in zip(x, ybin)],
        ", ".join(f"{c} double" for c in cols) + ", y double",
    )
    fit = sgdnet(bdf, cols, "y", family="binomial", nlambda=5)
    out = score(fit, bdf.filter(F.col("y") > 99), cols, "y", "auc")
    assert out.shape == (5,) and np.isnan(out).all()
