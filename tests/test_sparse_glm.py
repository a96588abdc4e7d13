"""Sparse wide-p GLM path == dense fit on the same hashed features."""

import numpy as np
import pytest

from sgdnet_spark.glm.sgdnet import sgdnet
from sgdnet_spark.glm.sparse import sgdnet_sparse
from sgdnet_spark.operators.features import (
    hashed_token_features,
    hashed_token_features_sparse,
)


def test_sparse_matches_dense(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = 128
    dense = hashed_token_features(docs, n_features=p, keep_cols=["doc_id", "n_chars"])
    sparse = hashed_token_features_sparse(docs, n_features=p, keep_cols=["doc_id", "n_chars"])

    dfit = sgdnet(dense, [f"x{i}" for i in range(p)], "n_chars", alpha=1.0,
                  nlambda=6, lambda_min_ratio=0.05, solver="fista", thresh=1e-7)
    sfit = sgdnet_sparse(sparse, "indices", "values", "n_chars", p=p, alpha=1.0,
                         nlambda=6, lambda_min_ratio=0.05, thresh=1e-7)
    assert np.allclose(dfit.lambdas, sfit.lambdas, rtol=1e-9)
    assert np.allclose(dfit.beta, sfit.beta, atol=1e-5)
    assert np.allclose(dfit.a0, sfit.a0, atol=1e-4)
    assert sfit.dev_ratio[-1] > 0.5


def test_sparse_distributed_kernels(spark):
    """The sparse mapInPandas kernels (moments + gradient pass) agree
    with dense numpy — covers the path the collect-fallback skips."""
    import numpy as np
    from sgdnet_spark.glm.sparse import SparseSparkXY, assemble_sparse

    rng = np.random.default_rng(83)
    n, p = 200, 30
    dense = np.zeros((n, p))
    rows = []
    for r in range(n):
        nz = rng.choice(p, size=5, replace=False)
        vals = rng.uniform(1, 3, size=5)
        dense[r, nz] = vals
        y = float(dense[r] @ np.arange(p) / p + rng.normal())
        rows.append(([int(i) for i in sorted(nz)], [float(dense[r, i]) for i in sorted(nz)], y))
    df = spark.createDataFrame(rows, "indices array<int>, vals array<double>, y double")
    prov = SparseSparkXY(assemble_sparse(df, "indices", "vals", "y"), p)
    mom = prov.moments_diag()
    assert mom.n == n
    assert np.allclose(mom.sum_x, dense.sum(0), rtol=1e-10)
    assert np.allclose(mom.xx_diag(), (dense**2).sum(0), rtol=1e-10)
    yv = np.array([r[2] for r in rows])
    assert np.allclose(mom.sum_xy[:, 0], dense.T @ yv, rtol=1e-10)
    # gradient pass vs dense formula (standardized)
    x_mean = dense.mean(0)
    x_std = dense.std(0)
    x_std[x_std == 0] = 1.0
    prov.set_standardization(x_mean, 1.0 / x_std)
    coef = rng.normal(size=p)
    b0 = 0.7
    g, sr, rssn = prov.gradient_gaussian(coef, b0)
    xs = (dense - x_mean) / x_std
    r = xs @ coef + b0 - yv
    assert np.allclose(g, xs.T @ r / n, atol=1e-10)
    assert abs(sr - r.sum() / n) < 1e-10
    assert abs(rssn - r @ r / n) < 1e-8


def test_sparse_wide_runs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = 4096
    sparse = hashed_token_features_sparse(docs, n_features=p, keep_cols=["n_chars"])
    fit = sgdnet_sparse(sparse, "indices", "values", "n_chars", p=p, nlambda=4,
                        lambda_min_ratio=0.1)
    assert fit.beta.shape == (p, 4)
    assert np.all(np.isfinite(fit.beta))


def test_sparse_binomial_matches_dense(spark, sf_dir):
    """sgdnet_sparse(family='binomial') == dense IRLS fit on the same
    hashed text features (reference saga-sparse.h serves every family;
    test-sparse.R is the template)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F

    p = 64
    dense = hashed_token_features(docs, n_features=p, keep_cols=["doc_id", "lang"])
    dense = dense.withColumn("is_en", (F.col("lang") == "en").cast("string"))
    sparse = hashed_token_features_sparse(docs, n_features=p, keep_cols=["doc_id", "lang"])
    sparse = sparse.withColumn("is_en", (F.col("lang") == "en").cast("string"))

    lams = [0.05, 0.01]
    dfit = sgdnet(dense, [f"x{i}" for i in range(p)], "is_en", family="binomial",
                  alpha=1.0, lambdas=lams, thresh=1e-7)
    sfit = sgdnet_sparse(sparse, "indices", "values", "is_en", p=p, family="binomial",
                         alpha=1.0, lambdas=lams, thresh=1e-7, maxit=3000)
    assert sfit.classnames == dfit.classnames
    assert np.allclose(dfit.beta, sfit.beta, atol=2e-3)
    assert np.allclose(dfit.a0, sfit.a0, atol=2e-3)
    assert np.allclose(dfit.dev_ratio, sfit.dev_ratio, atol=1e-4)


def test_sparse_multinomial_matches_dense(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = 32
    dense = hashed_token_features(docs, n_features=p, keep_cols=["doc_id", "lang"])
    sparse = hashed_token_features_sparse(docs, n_features=p, keep_cols=["doc_id", "lang"])

    lams = [0.05, 0.02]
    dfit = sgdnet(dense, [f"x{i}" for i in range(p)], "lang", family="multinomial",
                  alpha=1.0, lambdas=lams, thresh=1e-7)
    sfit = sgdnet_sparse(sparse, "indices", "values", "lang", p=p, family="multinomial",
                         alpha=1.0, lambdas=lams, thresh=1e-7, maxit=3000)
    assert sfit.classnames == dfit.classnames
    assert np.allclose(dfit.dev_ratio, sfit.dev_ratio, atol=1e-3)
    # softmax has a level ambiguity only in intercepts (both recentered);
    # coefficients should agree per class
    assert np.allclose(dfit.beta, sfit.beta, atol=5e-3)


def test_sparse_binomial_distributed_gradient(spark):
    """grad_binomial / grad_multinomial sparse kernels == dense numpy."""
    from sgdnet_spark.glm.sparse import SparseSparkXY, assemble_sparse

    rng = np.random.default_rng(11)
    n, p, k = 150, 20, 3
    dense = np.zeros((n, p))
    rows = []
    for r in range(n):
        nz = rng.choice(p, size=4, replace=False)
        vals = rng.uniform(1, 2, size=4)
        dense[r, nz] = vals
        yc = int(rng.integers(k))
        rows.append(([int(i) for i in sorted(nz)], [float(dense[r, i]) for i in sorted(nz)], float(yc)))
    df = spark.createDataFrame(rows, "indices array<int>, vals array<double>, y double")
    yv = np.array([r[2] for r in rows])
    x_mean = dense.mean(0)
    x_std = np.where(dense.std(0) > 0, dense.std(0), 1.0)
    xs = (dense - x_mean) / x_std

    prov = SparseSparkXY(assemble_sparse(df, "indices", "vals", "y"), p)
    prov.set_standardization(x_mean, 1.0 / x_std)

    # binomial kernel vs dense (binarize y)
    yb = (yv > 0).astype(float)
    dfb = spark.createDataFrame(
        [(a, b, float(c)) for (a, b, _), c in zip(rows, yb)],
        "indices array<int>, vals array<double>, y double",
    )
    pb = SparseSparkXY(assemble_sparse(dfb, "indices", "vals", "y"), p)
    pb.set_standardization(x_mean, 1.0 / x_std)
    coef = rng.normal(size=p) * 0.1
    g, gb, ll = pb.grad_binomial(coef, 0.3)
    eta = xs @ coef + 0.3
    mu = 1 / (1 + np.exp(-eta))
    assert np.allclose(g, xs.T @ (mu - yb) / n, atol=1e-10)
    assert abs(gb - (mu - yb).mean()) < 1e-10
    assert abs(ll - (np.sum(yb * eta - np.logaddexp(0.0, eta)))) < 1e-8

    # multinomial kernel vs dense
    coefs = rng.normal(size=(k, p)) * 0.1
    b0s = np.array([0.1, -0.2, 0.1])
    G, gbs, llm = prov.grad_multinomial(coefs, b0s)
    eta = xs @ coefs.T + b0s
    P = np.exp(eta - eta.max(1, keepdims=True))
    P /= P.sum(1, keepdims=True)
    Y = np.eye(k)[yv.astype(int)]
    assert np.allclose(G, (P - Y).T @ xs / n, atol=1e-10)
    assert np.allclose(gbs, (P - Y).mean(0), atol=1e-10)
    assert abs(llm - np.sum(Y * np.log(P))) < 1e-8

    # cov_vec kernel
    v = rng.normal(size=p)
    assert np.allclose(prov.cov_vec(v), xs.T @ (xs @ v) / n, atol=1e-10)


def test_predict_sparse_matches_dense(spark, sf_dir):
    """predict_sparse == SgdnetFit.predict on the same rows (link,
    response, class; on-path and interpolated off-path s)."""
    from pyspark.sql import functions as F

    from sgdnet_spark.glm.sparse import predict_sparse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = 64
    dense = hashed_token_features(docs, n_features=p, keep_cols=["doc_id", "lang"])
    sparse = hashed_token_features_sparse(docs, n_features=p, keep_cols=["doc_id", "lang"])
    dense = dense.withColumn("is_en", (F.col("lang") == "en").cast("string"))
    sparse = sparse.withColumn("is_en", (F.col("lang") == "en").cast("string"))

    lams = [0.05, 0.01]
    dfit = sgdnet(dense, [f"x{i}" for i in range(p)], "is_en", family="binomial",
                  alpha=1.0, lambdas=lams, thresh=1e-7)
    s_mid = (lams[0] + lams[1]) / 2  # off-path: exercises interpolation
    for typ in ("link", "response"):
        want = {
            r["doc_id"]: r["pred"]
            for r in dfit.predict(dense, s=s_mid, type=typ, prefix="pred").select("doc_id", "pred").collect()
        }
        got = {
            r["doc_id"]: r["pred"]
            for r in predict_sparse(dfit, sparse, "indices", "values", s=s_mid, type=typ).select("doc_id", "pred").collect()
        }
        assert set(got) == set(want)
        assert all(abs(got[k] - want[k]) < 1e-9 for k in want), typ
    # class labels agree too
    want_c = {r["doc_id"]: r["pred"] for r in dfit.predict(dense, s=lams[1], type="class", prefix="pred").select("doc_id", "pred").collect()}
    got_c = {r["doc_id"]: r["pred"] for r in predict_sparse(dfit, sparse, "indices", "values", s=lams[1], type="class").select("doc_id", "pred").collect()}
    assert got_c == want_c


def test_predict_sparse_multinomial(spark, sf_dir):
    from sgdnet_spark.glm.sparse import predict_sparse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = 32
    dense = hashed_token_features(docs, n_features=p, keep_cols=["doc_id", "lang"])
    sparse = hashed_token_features_sparse(docs, n_features=p, keep_cols=["doc_id", "lang"])
    lams = [0.05, 0.02]
    fit = sgdnet(dense, [f"x{i}" for i in range(p)], "lang", family="multinomial",
                 alpha=1.0, lambdas=lams, thresh=1e-7)
    s = lams[1]
    want = {r["doc_id"]: r["cls"] for r in fit.predict(dense, s=s, type="class", prefix="cls").select("doc_id", "cls").collect()}
    got = {r["doc_id"]: r["cls"] for r in predict_sparse(fit, sparse, "indices", "values", s=s, type="class", prefix="cls").select("doc_id", "cls").collect()}
    assert got == want
    # response probabilities sum to 1
    resp = predict_sparse(fit, sparse, "indices", "values", s=s, type="response").collect()
    import numpy as _np
    for r in resp[:10]:
        tot = sum(r[f"pred_{c}"] for c in fit.classnames)
        assert _np.isclose(tot, 1.0)


def test_score_sparse_matches_dense(spark, sf_dir):
    """score_sparse == glm.score on the same rows, every measure."""
    from pyspark.sql import functions as F

    from sgdnet_spark.glm.score import score
    from sgdnet_spark.glm.sparse import score_sparse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = 64
    dense = hashed_token_features(docs, n_features=p, keep_cols=["doc_id", "lang"])
    sparse = hashed_token_features_sparse(docs, n_features=p, keep_cols=["doc_id", "lang"])
    dense = dense.withColumn("is_en", (F.col("lang") == "en").cast("string"))
    sparse = sparse.withColumn("is_en", (F.col("lang") == "en").cast("string"))
    lams = [0.05, 0.01]

    bfit = sgdnet(dense, [f"x{i}" for i in range(p)], "is_en", family="binomial",
                  alpha=1.0, lambdas=lams, thresh=1e-7)
    for m in ("deviance", "mse", "mae", "class"):
        want = score(bfit, dense, [f"x{i}" for i in range(p)], "is_en", m)
        got = score_sparse(bfit, sparse, "indices", "values", "is_en", m)
        assert np.allclose(got, want, rtol=1e-9), m

    mfit = sgdnet(dense, [f"x{i}" for i in range(p)], "lang", family="multinomial",
                  alpha=1.0, lambdas=lams, thresh=1e-7)
    for m in ("deviance", "mse", "mae", "class"):
        want = score(mfit, dense, [f"x{i}" for i in range(p)], "lang", m)
        got = score_sparse(mfit, sparse, "indices", "values", "lang", m)
        assert np.allclose(got, want, rtol=1e-8), m


def test_score_sparse_auc_matches_dense(spark, sf_dir):
    from pyspark.sql import functions as F

    from sgdnet_spark.glm.score import score
    from sgdnet_spark.glm.sparse import score_sparse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = 64
    dense = hashed_token_features(docs, n_features=p, keep_cols=["doc_id", "lang"]).withColumn(
        "is_en", (F.col("lang") == "en").cast("string"))
    sparse = hashed_token_features_sparse(docs, n_features=p, keep_cols=["doc_id", "lang"]).withColumn(
        "is_en", (F.col("lang") == "en").cast("string"))
    lams = [0.05, 0.01]
    fit = sgdnet(dense, [f"x{i}" for i in range(p)], "is_en", family="binomial",
                 alpha=1.0, lambdas=lams, thresh=1e-7)
    want = score(fit, dense, [f"x{i}" for i in range(p)], "is_en", "auc")
    got = score_sparse(fit, sparse, "indices", "values", "is_en", "auc")
    assert np.all(np.abs(got - want) < 1e-9)


def test_score_sparse_multinomial_is_one_pass(spark):
    """A multinomial score_sparse scores every lambda from one link pass
    and one aggregation: 3 lambdas run as many Spark jobs as 1, and each
    lambda's score is the one it gets alone."""
    from sgdnet_spark.glm.sgdnet import SgdnetFit
    from sgdnet_spark.glm.sparse import score_sparse

    rng = np.random.default_rng(5)
    p, k, nl = 4, 3, 3
    fit = SgdnetFit(
        family="multinomial", alpha=1.0, lambdas=np.array([0.3, 0.2, 0.1]),
        a0=rng.normal(size=(k, nl)), beta=rng.normal(size=(k, p, nl)), df=np.zeros(nl),
        dev_ratio=np.zeros(nl), nulldev=1.0, npasses=0, nobs=30,
        feature_names=[f"f{i}" for i in range(p)], classnames=["a", "b", "c"],
    )
    rows = [([i % p, (i + 1) % p], [float(rng.normal()), 1.0], "abc"[i % 3]) for i in range(30)]
    df = spark.createDataFrame(rows, "indices array<int>, vals array<double>, y string")
    sc = spark.sparkContext

    def run(s, group):
        sc.setJobGroup(group, group)
        try:
            out = score_sparse(fit, df, "indices", "vals", "y", "deviance", s=s)
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(prop, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    one, jobs_one = run(fit.lambdas[:1], "score_sparse_one_lambda")
    three, jobs_three = run(fit.lambdas, "score_sparse_three_lambdas")
    assert jobs_one >= 1 and jobs_three == jobs_one
    assert np.allclose(three[0], one[0], rtol=1e-12) and np.isfinite(three).all()


def test_cv_sgdnet_sparse(spark, sf_dir):
    """Sparse CV end-to-end (reference test-sparse.R + cv coverage):
    structure invariants + agreement with dense CV on the same rows."""
    from pyspark.sql import functions as F

    from sgdnet_spark.glm.cv import cv_sgdnet
    from sgdnet_spark.glm.sparse import cv_sgdnet_sparse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = 32
    dense = hashed_token_features(docs, n_features=p, keep_cols=["doc_id"]).withColumn(
        "fold", F.pmod(F.col("doc_id"), F.lit(3)).cast("int"))
    sparse = hashed_token_features_sparse(docs, n_features=p, keep_cols=["doc_id", "n_chars"]).withColumn(
        "fold", F.pmod(F.col("doc_id"), F.lit(3)).cast("int"))
    # same label on both: n_chars
    from sgdnet_spark.operators.features import hashed_token_features as _h
    dense = _h(docs, n_features=p, keep_cols=["doc_id", "n_chars"]).withColumn(
        "fold", F.pmod(F.col("doc_id"), F.lit(3)).cast("int"))

    lams = [2.0, 0.5, 0.1]
    cvs = cv_sgdnet_sparse(sparse, "indices", "values", "n_chars", p=p, alpha=1.0,
                           lambdas=lams, nfolds=3, foldid_col="fold",
                           type_measure="mse", thresh=1e-7)
    cvd = cv_sgdnet(dense, [f"x{i}" for i in range(p)], "n_chars", alpha=1.0,
                    lambdas=lams, nfolds=3, foldid_col="fold", type_measure="mse",
                    use_fold_moments=False, solver="fista", thresh=1e-7)
    assert np.isclose(cvs.lambda_min, cvd.lambda_min)
    for a, b in zip(cvs.cv_summary, cvd.cv_summary):
        assert np.isclose(a["mean"], b["mean"], rtol=1e-4), (a, b)
    assert cvs.lambda_1se >= cvs.lambda_min


def test_sparse_null_labels_raise(spark):
    """Sparse classification rejects NULL labels like the dense path —
    NULL would sort first and become a phantom class."""
    rows = [([0], [1.0], "a"), ([1], [2.0], "b"), ([0, 1], [1.0, 1.0], None)] * 5
    df = spark.createDataFrame(rows, "indices array<int>, vals array<double>, y string")
    with pytest.raises(ValueError, match="NULL"):
        sgdnet_sparse(df, "indices", "vals", "y", p=2, family="binomial", nlambda=2)


def test_sparse_index_out_of_range_raises(spark):
    """A feature index >= p must raise with the contract named, not
    shift bincount segments into silently-garbage aggregates; predict
    and score on sparse rows hold the same contract (a negative index
    must not wrap around to the last coefficients)."""
    from sgdnet_spark.glm.sparse import predict_sparse, score_sparse

    schema = "indices array<int>, vals array<double>, y double"
    rows = [([0, 5], [1.0, 2.0], 1.0), ([1], [1.0], 0.0)] * 5
    df = spark.createDataFrame(rows, schema)
    with pytest.raises(Exception, match="out of range"):
        sgdnet_sparse(df, "indices", "vals", "y", p=4, family="gaussian",
                      nlambda=2, collect_max_cells=0)  # force distributed
    ok = spark.createDataFrame([([i % 4], [float(i)], float(i)) for i in range(12)], schema)
    fit = sgdnet_sparse(ok, "indices", "vals", "y", p=4, family="gaussian", nlambda=2)
    for idx in (-1, 4):
        bad = spark.createDataFrame([([idx], [1.0], 1.0)], schema)
        with pytest.raises(Exception, match="out of range"):
            predict_sparse(fit, bad, "indices", "vals").collect()
        with pytest.raises(Exception, match="out of range"):
            score_sparse(fit, bad, "indices", "vals", "y", "mse")


def test_sparse_duplicate_indices_sum_consistently(spark):
    """A row with a duplicate index sums its values on BOTH execution
    strategies (distributed bincount and the densified fast path) — the
    same data must fit identically above and below the collect budget."""
    import numpy as np

    rng = np.random.default_rng(8)
    rows = []
    for i in range(80):
        rows.append(([0, 0, 1], [1.0, 2.0, float(rng.normal())],
                     float(rng.normal())))
    df = spark.createDataFrame(rows, "indices array<int>, vals array<double>, y double")
    kw = dict(family="gaussian", alpha=0.0, nlambda=1, lambdas=[0.1])
    fast = sgdnet_sparse(df, "indices", "vals", "y", p=2, **kw)
    slow = sgdnet_sparse(df, "indices", "vals", "y", p=2,
                         collect_max_cells=0, **kw)
    assert np.allclose(fast.beta[:, 0], slow.beta[:, 0], atol=1e-6)
    assert np.allclose(fast.a0, slow.a0, atol=1e-6)


def test_predict_sparse_type_validation(spark):
    """predict_sparse rejects unknown types and class-on-gaussian, like
    the dense predict (no silent link fall-through)."""
    import numpy as np

    rows = [([0], [float(i)], float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "indices array<int>, vals array<double>, y double")
    fit = sgdnet_sparse(df, "indices", "vals", "y", p=1, family="gaussian", nlambda=2)
    from sgdnet_spark.glm.sparse import predict_sparse

    with pytest.raises(ValueError, match="unknown predict type"):
        predict_sparse(fit, df, "indices", "vals", type="respons")
    with pytest.raises(ValueError, match="classification"):
        predict_sparse(fit, df, "indices", "vals", type="class")


def test_inf_weights_raise_distributed(spark):
    """An infinite weight must raise (the n/W rescale factor would be
    0.0 and every finite weight silently zeroes out), matching the
    local fast path's check."""
    import pytest as _p

    from sgdnet_spark.glm import sgdnet

    rows = [(float(i), float(i), 1.0 if i else float("inf")) for i in range(50)]
    df = spark.createDataFrame(rows, "x0 double, y double, w double")
    with _p.raises(ValueError, match="infinite"):
        sgdnet(df, ["x0"], "y", family="gaussian", nlambda=2, weights_col="w")


def test_log_space_single_point_is_lambda_max():
    from sgdnet_spark.glm.solvers import log_space

    out = log_space(10.0, 0.001, 1)
    assert out.tolist() == [10.0]
    assert log_space(10.0, 0.001, 3)[0] == 10.0
    assert log_space(10.0, 0.001, 3)[-1] == 0.001
