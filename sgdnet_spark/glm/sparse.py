"""Sparse feature encoding for the wide-p path — reference saga-sparse.h
territory, Spark-first.

Rows carry (indices array<int>, values array<double>) instead of p dense
columns; batch kernels reconstruct per-batch CSR-style views with
numpy (bincount scatter-adds), so pass cost scales with nnz, not n·p.
Standardization uses the sparse trick the reference uses (scale only,
centering folded algebraically via the mean vector — the data is never
densified).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sgdnet_spark.glm.suffstats import (
    Moments,
    _sum_partials,
    logistic_terms,
    softmax_terms,
    unpack_cov,
    unpack_grad,
    unpack_grad_multinomial,
)

IDX_COL = "__sp_idx"
VAL_COL = "__sp_val"
LBL_COL = "__sp_y"
W_COL = "__sp_w"


def assemble_sparse(df: DataFrame, idx_col: str, val_col: str, label_col,
                    weight_expr=None) -> DataFrame:
    lbl = F.col(label_col) if isinstance(label_col, str) else label_col
    cols = [
        F.col(idx_col).cast("array<int>").alias(IDX_COL),
        F.col(val_col).cast("array<double>").alias(VAL_COL),
        lbl.cast("double").alias(LBL_COL),
    ]
    if weight_expr is not None:
        w = F.col(weight_expr) if isinstance(weight_expr, str) else weight_expr
        cols.append(w.cast("double").alias(W_COL))
    return df.select(*cols)


def _csr(idx_lists: pd.Series, val_lists: pd.Series, p: int):
    """A batch's (indices, values) list columns as its nonzeros: flat
    (feature index, value, row) triplets. Enforces the input contract
    0 <= index < p where it breaks: in the fit passes an index >= p
    lengthens bincount output and SHIFTS the packed partial's segments
    (partials then silently mis-sum), and in the link pass a negative
    index would wrap around to the last coefficients."""
    lens = np.fromiter((len(a) for a in idx_lists), dtype=np.int64, count=len(idx_lists))
    idx = np.concatenate(idx_lists.tolist()).astype(np.int64)
    val = np.concatenate(val_lists.tolist())
    if len(idx):
        mx, mn = int(idx.max()), int(idx.min())
        if mx >= p or mn < 0:
            raise ValueError(
                f"sparse feature index out of range: saw {mn}..{mx} "
                f"but p={p} (indices must be in [0, p))"
            )
    return idx, val, np.repeat(np.arange(len(lens)), lens)


def _csr_batch(p: int):
    """Arrow batch decoder -> (idx, val, rows, y, w) for the sparse
    kernels."""

    def decode(pdf: pd.DataFrame):
        idx, val, rows = _csr(pdf[IDX_COL], pdf[VAL_COL], p)
        y = pdf[LBL_COL].to_numpy(dtype=np.float64)
        w = pdf[W_COL].to_numpy(dtype=np.float64) if W_COL in pdf.columns else None
        return idx, val, rows, y, w

    return decode


def _onehot(y: np.ndarray, k: int) -> np.ndarray:
    """(n, k) one-hot of the integer class-index labels."""
    Y = np.zeros((len(y), k))
    Y[np.arange(len(y)), y.astype(np.int64)] = 1.0
    return Y


def _moments_kernel(idx, val, rows, y, w, p, k_onehot):
    """Diag moments at nnz cost via scatter adds; y is the label column
    itself (k_onehot None) or the class index of k_onehot one-hot columns."""
    Y = y[:, None] if k_onehot is None else _onehot(y, k_onehot)
    vw = val if w is None else val * w[rows]
    Yw = Y if w is None else Y * w[:, None]
    XY = np.stack([np.bincount(idx, weights=vw * Y[rows, c], minlength=p)
                   for c in range(Y.shape[1])], axis=1)
    return Moments(len(y), np.bincount(idx, weights=vw, minlength=p), Yw.sum(axis=0),
                   np.bincount(idx, weights=vw * val, minlength=p), XY,
                   (Yw * Y).sum(axis=0)).pack()


def moments_diag_sparse(xy: DataFrame, p: int) -> Moments:
    """n, Σx, Σx² (diag), Σy, Σxy, Σy² — all via nnz-cost scatter adds."""
    out = _sum_partials(xy, _csr_batch(p), _moments_kernel, p, None)
    # 1-D diagonal (see Moments.xx_diag) — np.diag would be p^2 bytes
    return Moments.unpack(out, p, 1, diag=True)


def _grad_kernel(idx, val, rows, y, w, p, scaled, off, m, inv, family):
    """The gaussian / logistic gradient of suffstats.grad_kernel at nnz
    cost: eta by scatter add, X̃ᵀr by the centering trick."""
    eta = np.full(len(y), off)
    np.add.at(eta, rows, val * scaled[idx])
    if family == "gaussian":
        r = eta - y
        stat = r * r
    else:
        mu, stat = logistic_terms(eta, y)
        r = mu - y
    if w is not None:
        r = r * w
        stat = stat * w
    xr = np.bincount(idx, weights=val * r[rows], minlength=p)
    sum_r = r.sum()
    return np.concatenate([(xr - m * sum_r) * inv, [sum_r, stat.sum(), float(len(y))]])


def _densify(prov: "SparseSparkXY", p: int, k_onehot: int | None = None):
    """Collect sparse rows to a LocalXY (driver fast path for small n·p)."""
    from sgdnet_spark.glm.providers import LocalXY

    pdf = prov.xy.toPandas()
    x = np.zeros((len(pdf), p))
    for r, (ii, vv) in enumerate(zip(pdf[IDX_COL], pdf[VAL_COL])):
        # np.add.at, not fancy-index assignment: a row with a DUPLICATE
        # index would last-wins under assignment while the distributed
        # kernels (np.bincount / np.add.at) SUM duplicates — the same
        # dataset must fit identically above and below the collect
        # threshold
        np.add.at(x[r], np.asarray(ii, dtype=int), np.asarray(vv, dtype=float))
    y = pdf[LBL_COL].to_numpy(dtype=float)
    if k_onehot is not None:
        oh = np.zeros((len(y), k_onehot))
        oh[np.arange(len(y)), y.astype(int)] = 1.0
        y = oh
    w = pdf[W_COL].to_numpy(dtype=float) if W_COL in pdf.columns else None
    local = LocalXY(x, y, w=w)
    local.passes = prov.passes
    return local


def sgdnet_sparse(
    df: DataFrame,
    idx_col: str,
    val_col: str,
    label_col: str,
    p: int,
    family: str = "gaussian",
    alpha: float = 1.0,
    nlambda: int = 20,
    lambda_min_ratio: float = 1e-2,
    lambdas=None,
    standardize: bool = True,
    intercept: bool = True,
    thresh: float = 1e-6,
    maxit: int = 500,
    collect_max_cells: float = 3e8,
    weights_col: str | None = None,
    penalty_factor=None,
    exclude=None,
    lower_limits=None,
    upper_limits=None,
):
    """Elastic-net GLM path on sparse (indices, values) rows — the
    Spark-shaped counterpart of reference src/saga-sparse.h, which
    serves every family at nnz cost.

    gaussian/binomial/multinomial; very wide feature spaces (hashed
    text features, n-gram spaces): every pass costs O(nnz), driver
    state is O(p·k), and the data is never densified on the cluster.

    ``weights_col`` (glmnet weights-sum-to-n semantics like the dense
    API): per-row non-negative sample weights, folded into the moments
    and every gradient pass at nnz cost. Offsets are not supported on
    the sparse path.

    ``penalty_factor``/``exclude`` (glmnet semantics; see sgdnet())
    ride the FISTA prox per-coordinate; ``lower_limits``/
    ``upper_limits`` box constraints apply to gaussian and binomial.
    """
    from pyspark.sql import functions as F

    from sgdnet_spark.glm import path as path_mod
    from sgdnet_spark.glm.sgdnet import SgdnetFit

    if family not in ("gaussian", "binomial", "multinomial"):
        raise ValueError("sgdnet_sparse supports gaussian, binomial, multinomial")

    # NULL/NaN/negative/zero-sum validation + glmnet sum-to-n rescale,
    # shared with the dense entry point so the input contracts can't drift
    from sgdnet_spark.glm.suffstats import validate_weights_offsets

    weight_expr = validate_weights_offsets(df, weights_col=weights_col)

    classnames = None
    k = 1
    if family == "gaussian":
        label_expr: object = label_col
    else:
        classes = [r[0] for r in df.select(label_col).distinct().orderBy(label_col).collect()]
        if any(c is None for c in classes):
            # same policy as the dense path (sgdnet.py): NULL would sort
            # first and become a phantom class whose rows map to NaN
            raise ValueError("NULL values in the response; classification labels must be non-null")
        if family == "binomial":
            if len(classes) != 2:
                raise ValueError(f"binomial response needs exactly 2 classes, got {len(classes)}")
            label_expr = F.when(F.col(label_col) == F.lit(classes[1]), 1.0).otherwise(0.0)
        else:
            if len(classes) < 3:
                raise ValueError("multinomial response needs at least 3 classes")
            mapped = None
            for i, c in enumerate(classes):
                mapped = (
                    F.when(F.col(label_col) == F.lit(c), float(i))
                    if mapped is None
                    else mapped.when(F.col(label_col) == F.lit(c), float(i))
                )
            label_expr = mapped
            k = len(classes)
        classnames = classes

    xy = assemble_sparse(df, idx_col, val_col, label_expr, weight_expr=weight_expr)
    spark_prov = prov = SparseSparkXY(xy, p)
    prov.cache()
    try:
        if family == "multinomial":
            mom = prov.moments_diag_onehot(k)
        else:
            mom = prov.moments_diag()
        if mom.n * p <= collect_max_cells:
            # small data: densify to the numpy provider so each FISTA
            # iteration is a numpy call, not a Spark job
            prov = _densify(prov, p, k_onehot=k if family == "multinomial" else None)
            spark_prov.unpersist()
        common = dict(
            alpha=alpha, nlambda=nlambda, lambda_min_ratio=lambda_min_ratio,
            lambdas=lambdas, standardize=standardize, intercept=intercept,
            thresh=thresh, maxit=maxit, mom=mom,
            penalty_factor=penalty_factor, exclude=exclude,
        )
        if family == "multinomial":
            if lower_limits is not None or upper_limits is not None:
                raise NotImplementedError(
                    "lower_limits/upper_limits are not supported for the "
                    "sparse multinomial path"
                )
            res = path_mod.multinomial_path_fista(prov, **common)
        else:
            common.update(lower_limits=lower_limits, upper_limits=upper_limits)
            if family == "gaussian":
                res = path_mod.gaussian_path_fista(prov, **common)
            else:
                res = path_mod.binomial_path_fista(prov, **common)
    finally:
        spark_prov.unpersist()
    return SgdnetFit(
        family=family, alpha=alpha, lambdas=res.lambdas, a0=res.a0, beta=res.beta,
        df=res.df, dev_ratio=res.dev_ratio, nulldev=res.nulldev, npasses=res.npasses,
        nobs=mom.n, feature_names=[f"f{i}" for i in range(p)], classnames=classnames,
        dfmat=res.dfmat, intercept=intercept, standardize=standardize,
    )


class SparseSparkXY:
    """Provider for (indices, values) sparse rows; wide-p FISTA only.

    Centering trick: with x~ = (x - m)/s, X~'r = diag(1/s)(X'r - m * Σr)
    and eta = X(beta/s) - <m, beta/s> + b0 — only nnz work per pass.
    """

    def __init__(self, xy: DataFrame, p: int):
        self.xy = xy
        self.p = p
        self.k = 1
        self.n: int | None = None
        self.passes = 0
        self._cached = False

    def cache(self):
        if not self._cached:
            self.xy = self.xy.persist()
            self._cached = True

    def unpersist(self):
        if self._cached:
            self.xy.unpersist()
            self._cached = False

    def moments_diag(self) -> Moments:
        self.passes += 1
        mom = moments_diag_sparse(self.xy, self.p)
        self.n = mom.n
        return mom

    def moments(self) -> Moments:
        return self.moments_diag()

    def set_standardization(self, x_mean, x_inv_std):
        self.x_mean = x_mean
        self.x_inv_std = x_inv_std

    def _grad(self, coef: np.ndarray, b0: float, family: str):
        self.passes += 1
        scaled = coef * self.x_inv_std
        off = b0 - float(self.x_mean @ scaled)
        out = _sum_partials(self.xy, _csr_batch(self.p), _grad_kernel, self.p, scaled, off,
                            self.x_mean, self.x_inv_std, family)
        return unpack_grad(out, self.p, family)

    def gradient_gaussian(self, coef: np.ndarray, intercept: float):
        return self._grad(coef, intercept, "gaussian")

    def cov_vec(self, v: np.ndarray) -> np.ndarray:
        """Standardized Gram-vector product C v in one nnz-cost pass
        (power iteration for Lipschitz bounds; never builds p²)."""
        self.passes += 1
        p = self.p
        scaled = v * self.x_inv_std
        off = -float(self.x_mean @ scaled)
        m = self.x_mean
        inv = self.x_inv_std

        def fn(idx, val, rows, y, w):
            u = np.full(len(y), off)
            np.add.at(u, rows, val * scaled[idx])
            uw = u if w is None else u * w
            xu = np.bincount(idx, weights=val * uw[rows], minlength=p)
            return np.concatenate([(xu - m * uw.sum()) * inv, [float(len(y))]])

        return unpack_cov(_sum_partials(self.xy, _csr_batch(p), fn), p)

    def grad_binomial(self, coef: np.ndarray, b0: float):
        """Logistic gradient on the standardized scale: one nnz-cost
        pass -> (X~'(mu-y)/n, mean(mu-y), loglik) — the saga-sparse.h
        counterpart (reference src/saga-sparse.h), batch-vectorized."""
        return self._grad(coef, b0, "binomial")

    def grad_multinomial(self, coefs: np.ndarray, b0s: np.ndarray):
        """Softmax gradient for all classes in one nnz-cost pass:
        (X~'(P-Y)/n as (k,p), column means of (P-Y), loglik). The label
        column holds the integer class index."""
        self.passes += 1
        p = self.p
        k = coefs.shape[0]
        scaled = coefs * self.x_inv_std[None, :]  # (k, p)
        offs = b0s - scaled @ self.x_mean
        m = self.x_mean
        inv = self.x_inv_std

        def fn(idx, val, rows, y, w):
            eta = np.tile(offs, (len(y), 1))
            np.add.at(eta, rows, val[:, None] * scaled[:, idx].T)
            Y = _onehot(y, k)
            P, ll_terms = softmax_terms(eta, Y)
            R = P - Y
            if w is not None:
                R = R * w[:, None]
                ll_terms = ll_terms * w
            XR = np.stack([np.bincount(idx, weights=val * R[rows, c], minlength=p)
                           for c in range(k)], axis=1)
            G = (XR - np.outer(m, R.sum(axis=0))) * inv[:, None]
            return np.concatenate([G.T.ravel(), R.sum(axis=0), [ll_terms.sum(), float(len(y))]])

        return unpack_grad_multinomial(_sum_partials(self.xy, _csr_batch(p), fn), p, k)

    def moments_diag_onehot(self, k: int) -> Moments:
        """Diag moments where y (an int class index) is expanded to its
        one-hot columns — sum_y/sum_xy/sum_yy become k-wide."""
        self.passes += 1
        out = _sum_partials(self.xy, _csr_batch(self.p), _moments_kernel, self.p, k)
        mom = Moments.unpack(out, self.p, k, diag=True)
        self.n = mom.n
        return mom


def _sparse_links(df: DataFrame, idx_col: str, val_col: str,
                  cf: np.ndarray) -> tuple[DataFrame, list[list[F.Column]]]:
    """Append the link columns of a coefficient array to ``df`` in ONE
    Arrow-batched mapInPandas at nnz cost per row: eta = a0 + Σ over the
    row's nnz of beta[idx]·val, for every lambda and class of ``cf``
    ((p+1, nl) or (k, p+1, nl); original data scale). All input columns
    pass through. Returns the frame and, per lambda, its k link Columns
    — the input of the shared heads in glm.score."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    cf3 = cf[None] if cf.ndim == 2 else cf
    k, p1, nl = cf3.shape
    p = p1 - 1
    names = [[f"__sp_eta_{i}_{c}" for c in range(k)] for i in range(nl)]
    schema = StructType(list(df.schema.fields)
                        + [StructField(n, DoubleType()) for row in names for n in row])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            idx, val, rows = _csr(pdf[idx_col], pdf[val_col], p)
            links = {}
            for i in range(nl):
                for c in range(k):
                    eta = np.full(len(pdf), float(cf3[c, 0, i]))
                    np.add.at(eta, rows, val * cf3[c, 1:, i][idx])
                    links[names[i][c]] = eta
            yield pd.concat([pdf, pd.DataFrame(links, index=pdf.index)], axis=1)

    return df.mapInPandas(run, schema=schema), [[F.col(n) for n in row] for row in names]


def predict_sparse(
    fit,
    df: DataFrame,
    idx_col: str,
    val_col: str,
    s=None,
    type: str = "link",
    prefix: str = "pred",
) -> DataFrame:
    """predict() for (indices, values) sparse rows — the counterpart of
    SgdnetFit.predict for wide-p fits, at nnz cost per row (reference
    predict.sgdnet.R accepts sparse newx the same way).

    ``_sparse_links`` appends the links (coefficients interpolated at
    off-path s exactly like the dense predict); the heads are the ones
    the dense predict uses (``score.prediction_columns``), so the
    response, class and output naming cannot differ between the two.
    All input columns are passed through; prediction columns are
    appended. Univariate families emit one column per requested lambda
    (``prefix_{i}``, or ``prefix`` for a single one); multinomial needs
    a single s and emits per-class columns (link, response) or one label
    column (class).
    """
    from sgdnet_spark.glm.score import prediction_columns

    fam = fit.family
    # match.arg semantics, as the dense predict: unknown types must not
    # silently fall through to link
    if type not in ("link", "response", "class"):
        raise ValueError(f"unknown predict type: {type!r}")
    if type == "class" and fam not in ("binomial", "multinomial"):
        raise ValueError(
            f"type='class' is only defined for classification families, not {fam!r}"
        )
    cf = fit.coef(s) if s is not None else fit.coef()
    if fam == "mgaussian":
        raise ValueError("predict_sparse supports gaussian, binomial, multinomial (and poisson) fits")
    if fam == "multinomial" and cf.shape[-1] != 1:
        raise ValueError("multinomial predict_sparse needs a single s per call")
    links, etas = _sparse_links(df, idx_col, val_col, cf)
    heads = prediction_columns(fit, type, etas, prefix)
    return links.withColumns(heads).drop(*links.columns[len(df.columns):])


def score_sparse(
    fit,
    df: DataFrame,
    idx_col: str,
    val_col: str,
    label_col: str,
    type_measure: str = "deviance",
    s=None,
) -> np.ndarray:
    """score() for sparse rows (reference R/score.R measures): ONE
    ``_sparse_links`` pass appends the links of every lambda, and
    ``score.score_links`` — the scoring core of the dense score — turns
    them into the measure in one aggregation (binomial AUC: the path-AUC
    histogram pass). The pass count does not grow with the number of
    lambdas, and labels are handled exactly as the dense score handles
    them (a NULL or out-of-class binomial label NaN-poisons the score)."""
    from sgdnet_spark.glm.score import check_measure, score_links

    fam = fit.family
    if fam not in ("gaussian", "binomial", "multinomial"):
        raise ValueError("score_sparse supports gaussian, binomial, multinomial fits")
    check_measure(fam, type_measure)
    s_arr = fit.lambdas if s is None else np.atleast_1d(s)
    # only the label rides along through the Python pass
    links, etas = _sparse_links(df.select(idx_col, val_col, label_col), idx_col, val_col,
                                fit.coef(s_arr))
    return score_links(fit, links, etas, label_col, type_measure)


def cv_sgdnet_sparse(
    df: DataFrame,
    idx_col: str,
    val_col: str,
    label_col: str,
    p: int,
    family: str = "gaussian",
    alpha=1.0,
    lambdas=None,
    nfolds: int = 10,
    foldid_col: str | None = None,
    type_measure: str = "deviance",
    seed: int = 42,
    **fit_kwargs,
):
    """k-fold CV on sparse (indices, values) rows — reference cv_sgdnet
    accepts sparse x the same way (tests/testthat/test-sparse.R).

    Same fold semantics and summary as cv_sgdnet (deterministic content
    hash folds, per-fold path fits on the complement, scored on the
    held-out fold with score_sparse — distributed end to end)."""
    if nfolds <= 2:
        raise ValueError("nfolds must be greater than 2")
    alphas = [float(a) for a in (alpha if isinstance(alpha, (list, tuple, np.ndarray)) else [alpha])]

    from sgdnet_spark.glm.cv import FOLD_COL, summarize_cv

    if foldid_col is None:
        fold_expr = F.pmod(
            F.xxhash64(F.struct(*[F.col(c) for c in df.columns]), F.lit(seed)), F.lit(nfolds)
        ).cast("int")
        df = df.withColumn(FOLD_COL, fold_expr)
        foldid_col = FOLD_COL
    df = df.persist()
    try:
        folds = sorted(r[0] for r in df.select(foldid_col).distinct().collect())
        nfolds = len(folds)
        full_fits = [
            sgdnet_sparse(df, idx_col, val_col, label_col, p, family=family, alpha=a,
                          lambdas=lambdas, **fit_kwargs)
            for a in alphas
        ]
        lam_lists = [f.lambdas for f in full_fits]
        cv_raw = []
        for a, lams in zip(alphas, lam_lists):
            raw = np.full((nfolds, len(lams)), np.nan)
            for j, fold in enumerate(folds):
                train = df.filter(F.col(foldid_col) != fold)
                test = df.filter(F.col(foldid_col) == fold)
                fit_j = sgdnet_sparse(train, idx_col, val_col, label_col, p, family=family,
                                      alpha=a, lambdas=[float(x) for x in lams], **fit_kwargs)
                raw[j, :] = score_sparse(fit_j, test, idx_col, val_col, label_col,
                                         type_measure, s=lams)
            cv_raw.append(raw)
    finally:
        df.unpersist()
    return summarize_cv(alphas, lam_lists, cv_raw, full_fits, type_measure, family)
