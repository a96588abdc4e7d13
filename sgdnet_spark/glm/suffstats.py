"""Distributed sufficient statistics for GLM fitting.

This is the scale-critical layer (SURVEY.md §3). The reference
(src/saga-dense.h) iterates sample-by-sample on one machine; here every
solver consumes *aggregates* whose size depends only on p (features) and
k (responses), never on n:

- ``moments_and_gram``  : one pass -> n, Σx, Σy, ΣxxT, Σxy, Σyy
- ``weighted_quadratic``: one pass per IRLS step -> Σw, Σw·x, Σw·x xT, Σw·x·z, ...

Each statistic is ONE kernel ``fn(xs, y, w, o) -> packed 1-d partial``
over a block of rows (standardized features, raw ones for the moments)
plus one unpack of the summed partials. Partials are additive, so the
same kernel runs under two reducers: ``_sum_partials`` here (a
``mapInPandas`` over flat double columns x0..x{p-1}, y0..y{k-1}, one
packed partial row per partition, summed on the driver — at 100 TB a
single narrow scan + a ~p² byte combine, no shuffle of row data) and
``providers.LocalXY`` (row blocks of its cached standardized X). The
family formulas (``logistic_terms``, ``poisson_terms``,
``softmax_terms``) are written once, here, for both and for the sparse
provider.
"""

from __future__ import annotations

from dataclasses import dataclass, fields
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def xcols(p: int) -> list[str]:
    return [f"x{i}" for i in range(p)]


def ycols(k: int) -> list[str]:
    return [f"y{i}" for i in range(k)]


def assemble(
    df: DataFrame, feature_exprs, label_exprs=None, weight_expr=None, offset_expr=None
) -> DataFrame:
    """Project to flat double columns x0..x{p-1}, y0..y{k-1} [, w, o].

    Flat columns (not array<double>) keep the Arrow transfer columnar:
    pandas sees a (n, p) float block, no per-row list objects — a ~10x
    difference on wide collects. Column pruning reaches the parquet scan.

    ``weight_expr`` (if given) should already be rescaled by the caller
    so the weights average 1 over the data (glmnet's convention: weights
    sum to n) — every downstream /n then yields the correct weighted
    mean with no kernel-side renormalization. ``offset_expr`` is the
    per-row linear-predictor offset for binomial/poisson fits; a LIST of
    k expressions is the n×k multinomial offset (one column per class,
    sorted-class order), materialized as o0..o{k-1}.
    """
    # NULL x/y values coalesce to NaN so EVERY execution strategy sees
    # the same poison: F.sum skips NULL (the JVM-agg path would silently
    # return biased moments over fewer rows than n counts) but
    # propagates NaN, matching what the Arrow/pandas paths produce when
    # they convert NULL to NaN — a fit on NULL-bearing features now
    # visibly NaNs out everywhere instead of differing by strategy.
    nan = F.lit(float("nan"))
    cols = []
    for i, e in enumerate(feature_exprs):
        c = F.col(e) if isinstance(e, str) else e
        cols.append(F.coalesce(c.cast("double"), nan).alias(f"x{i}"))
    if label_exprs is not None:
        for i, e in enumerate(label_exprs):
            c = F.col(e) if isinstance(e, str) else e
            cols.append(F.coalesce(c.cast("double"), nan).alias(f"y{i}"))
    if weight_expr is not None:
        c = F.col(weight_expr) if isinstance(weight_expr, str) else weight_expr
        cols.append(c.cast("double").alias("w"))
    if offset_expr is not None:
        if isinstance(offset_expr, (list, tuple)):
            for i, e in enumerate(offset_expr):
                c = F.col(e) if isinstance(e, str) else e
                cols.append(c.cast("double").alias(f"o{i}"))
        else:
            c = F.col(offset_expr) if isinstance(offset_expr, str) else offset_expr
            cols.append(c.cast("double").alias("o"))
    return df.select(*cols)


def _offset_array(pdf: pd.DataFrame) -> np.ndarray | None:
    """The offset column(s) assemble() materialized, as a numpy array:
    'o' for a single per-row offset, o0..o{k-1} for the n×k multivariate
    form, None if the fit has no offset. The ONE place that mirrors
    assemble()'s offset naming — shared by the Arrow batch path and the
    driver collect path so they cannot drift."""
    if "o" in pdf.columns:
        return pdf["o"].to_numpy(dtype=np.float64, copy=False)
    if "o0" in pdf.columns:
        ko = 0
        while f"o{ko}" in pdf.columns:
            ko += 1
        return pdf[[f"o{i}" for i in range(ko)]].to_numpy(dtype=np.float64, copy=False)
    return None


def _dense_batch(p: int, k: int, x_mean=None, x_inv_std=None, cols=None):
    """Arrow batch decoder -> (x, y, w, o) for the kernels: x is the
    standardized block when x_mean/x_inv_std are given (raw otherwise),
    sliced to the screened ``cols`` BEFORE standardizing; y is (n, k);
    w and o are None when their columns are absent."""
    names = xcols(p) if cols is None else [f"x{c}" for c in cols]
    if cols is not None and x_mean is not None:
        x_mean, x_inv_std = x_mean[cols], x_inv_std[cols]

    def decode(pdf: pd.DataFrame):
        x = pdf[names].to_numpy(dtype=np.float64, copy=False)
        if x_mean is not None:
            x = (x - x_mean) * x_inv_std
        y = pdf[ycols(k)].to_numpy(dtype=np.float64, copy=False)
        w = pdf["w"].to_numpy(dtype=np.float64, copy=False) if "w" in pdf.columns else None
        return x, y, w, _offset_array(pdf)

    return decode


def _sum_partials(df: DataFrame, decode, fn, *args) -> np.ndarray:
    """Run ``fn(*decode(batch), *args) -> 1-d partial`` per Arrow batch
    and sum. One packed partial row per partition; the combine on the
    driver sums #partitions vectors whose size is independent of n.
    ``decode`` turns a pandas batch into the kernel's row arguments
    (dense columns here, CSR arrays in glm.sparse)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            part = fn(*decode(pdf), *args)
            acc = part if acc is None else acc + part
        if acc is not None:
            yield pd.DataFrame({"partial": [acc.tolist()]})

    rows = df.mapInPandas(run, schema="partial array<double>").collect()
    if not rows:
        raise ValueError("empty input: no rows to aggregate")
    return np.sum([np.asarray(r["partial"]) for r in rows], axis=0)


@dataclass
class Moments:
    """First/second raw moments of (X, Y) — everything a gaussian path
    needs. Additive across disjoint row sets (``+``/``-`` act field-wise),
    for the full and the diagonal-only form alike."""

    n: int
    sum_x: np.ndarray  # (p,)
    sum_y: np.ndarray  # (k,)
    sum_xx: np.ndarray  # (p, p), or its 1-D diagonal (p,) on the wide-p path
    sum_xy: np.ndarray  # (p, k)
    sum_yy: np.ndarray  # (k,)

    def __add__(self, other: "Moments") -> "Moments":
        return Moments(*(getattr(self, f.name) + getattr(other, f.name) for f in fields(self)))

    def __sub__(self, other: "Moments") -> "Moments":
        return Moments(*(getattr(self, f.name) - getattr(other, f.name) for f in fields(self)))

    def pack(self) -> np.ndarray:
        """The packed partial layout: n, Σx, Σy, Σxx, Σxy, Σyy."""
        return np.concatenate([[float(self.n)], self.sum_x, self.sum_y,
                               np.ravel(self.sum_xx), np.ravel(self.sum_xy), self.sum_yy])

    @staticmethod
    def unpack(v: np.ndarray, p: int, k: int, diag: bool = False) -> "Moments":
        """Inverse of pack(); ``diag``: Σxx is the 1-D diagonal."""
        sum_x, sum_y, sum_xx, sum_xy, sum_yy = np.split(
            v[1:], np.cumsum([p, k, p if diag else p * p, p * k]))
        return Moments(int(round(v[0])), sum_x, sum_y,
                       sum_xx if diag else sum_xx.reshape(p, p), sum_xy.reshape(p, k), sum_yy)

    @property
    def x_mean(self) -> np.ndarray:
        return self.sum_x / self.n

    @property
    def y_mean(self) -> np.ndarray:
        return self.sum_y / self.n

    def xx_diag(self) -> np.ndarray:
        # diag-only moments (wide-p path) store sum_xx as the 1-D
        # diagonal itself — a dense np.diag(p×p) would be 80 GB at
        # p=100k on the exact path that exists to avoid p²
        return self.sum_xx if self.sum_xx.ndim == 1 else self.sum_xx.diagonal()

    def x_std(self) -> np.ndarray:
        # population (1/n) std, as reference utils.h:Mean/StandardDeviation
        var = self.xx_diag() / self.n - self.x_mean**2
        return np.sqrt(np.maximum(var, 0.0))

    def y_std(self) -> np.ndarray:
        var = self.sum_yy / self.n - self.y_mean**2
        return np.sqrt(np.maximum(var, 0.0))


# -- family row terms (reference src/families.h): mean and fit statistic --


def logistic_terms(eta: np.ndarray, y: np.ndarray):
    """mu = sigmoid(eta) and the per-row log-likelihood y·η − log(1+e^η)
    (logaddexp: a log(max(mu, 1e-300)) shortcut clamps for η < −691)."""
    return 1.0 / (1.0 + np.exp(-eta)), y * eta - np.logaddexp(0.0, eta)


def poisson_terms(eta: np.ndarray, y: np.ndarray):
    """mu = exp(eta) and the per-row deviance 2 [y log(y/mu) − (y − mu)]."""
    mu = np.exp(eta)
    with np.errstate(divide="ignore", invalid="ignore"):
        ylogy = np.where(y > 0, y * np.log(y / np.maximum(mu, 1e-300)), 0.0)
    return mu, 2.0 * (ylogy - (y - mu))


def softmax_terms(eta: np.ndarray, y: np.ndarray):
    """Class probabilities of the (n, k) linear predictor and the per-row
    log-likelihood Σ_c y_c log p_c of the one-hot y."""
    e = np.exp(eta - eta.max(axis=1, keepdims=True))
    prob = e / e.sum(axis=1, keepdims=True)
    return prob, np.sum(y * np.log(np.maximum(prob, 1e-300)), axis=1)


_ROW_TERMS = {"binomial": logistic_terms, "poisson": poisson_terms}


# -- kernels: (x, y, w, o, *params) -> packed partial of one row block --


def moments_kernel(x, y, w, o, diag=False) -> np.ndarray:
    """Raw (unstandardized) moments; ``diag`` keeps only the Gram's
    diagonal. Weighted by the mean-1 ``w``; n stays the row count."""
    xw = x if w is None else x * w[:, None]
    yw = y if w is None else y * w[:, None]
    sum_xx = (xw * x).sum(axis=0) if diag else xw.T @ x
    return Moments(len(x), xw.sum(axis=0), yw.sum(axis=0), sum_xx, xw.T @ y,
                   (yw * y).sum(axis=0)).pack()


def cov_kernel(xs, y, w, o, v) -> np.ndarray:
    """Standardized Gram-vector product: X̃ᵀ w̃ X̃ v, n."""
    u = xs @ v
    if w is not None:
        u = u * w
    return np.concatenate([xs.T @ u, [float(len(u))]])


def unpack_cov(v: np.ndarray, p: int) -> np.ndarray:
    return v[:p] / v[-1]


def grad_kernel(xs, y, w, o, coef, b0, family) -> np.ndarray:
    """X̃ᵀr, Σr, Σ fit-stat terms, n with r the (weighted) residual:
    eta − y for gaussian (stat: r², no offset), mu − y for binomial
    (stat: loglik) and poisson (stat: deviance)."""
    yb = y[:, 0]
    eta = xs @ coef + b0
    if family == "gaussian":
        r = eta - yb
        stat = r * r
    else:
        if o is not None:
            eta = eta + o
        mu, stat = _ROW_TERMS[family](eta, yb)
        r = mu - yb
    if w is not None:
        r = r * w
        stat = stat * w
    return np.concatenate([xs.T @ r, [r.sum(), stat.sum(), float(len(yb))]])


def unpack_grad(v: np.ndarray, p: int, family: str):
    """(X̃ᵀr/n, Σr/n, stat) — rss/n for gaussian, the raw sum otherwise."""
    n = v[-1]
    return v[:p] / n, v[p] / n, v[p + 1] / n if family == "gaussian" else v[p + 1]


def grad_multinomial_kernel(xs, y, w, o, coefs, b0s) -> np.ndarray:
    """Softmax gradient X̃ᵀ(P − Y) as (k, p), its column sums, loglik, n;
    y is one-hot (n, k), ``o`` the optional n×k offset."""
    eta = xs @ coefs.T + b0s
    if o is not None:
        eta = eta + o
    prob, ll = softmax_terms(eta, y)
    R = prob - y
    if w is not None:
        R = R * w[:, None]
        ll = ll * w
    return np.concatenate([(R.T @ xs).ravel(), R.sum(axis=0), [ll.sum(), float(len(R))]])


def unpack_grad_multinomial(v: np.ndarray, p: int, k: int):
    n = v[-1]
    return v[: k * p].reshape(k, p) / n, v[k * p : k * p + k] / n, v[k * p + k]


def _quadratic(xs, w, z) -> np.ndarray:
    """Σw, Σw·x, Σw·x xᵀ, Σw·x·z, Σw·z — the WLS sums of one IRLS step."""
    xw = xs * w[:, None]
    return np.concatenate([[w.sum()], xw.sum(axis=0), (xw.T @ xs).ravel(), xw.T @ z,
                           [(w * z).sum()]])


def _unpack_quadratic(v: np.ndarray, p: int):
    sum_w, sum_wx, sum_wxx, sum_wxz, sum_wz = np.split(v, np.cumsum([1, p, p * p, p]))
    return sum_w[0], sum_wx, sum_wxx.reshape(p, p), sum_wxz, sum_wz[0]


def irls_kernel(xs, y, sw, o, coef, b0, family) -> np.ndarray:
    """One IRLS step for binomial or poisson: the WLS sums, then the
    weighted fit statistic. wirls = mu(1−mu) | mu; the working response
    z = (eta − o) + (y − mu)/wirls targets eta EXCLUDING the offset, so
    the WLS solve fits coef/intercept only."""
    yb = y[:, 0]
    eta_lin = xs @ coef + b0
    eta = eta_lin if o is None else eta_lin + o
    mu, stat = _ROW_TERMS[family](eta, yb)
    w = np.maximum(mu if family == "poisson" else mu * (1.0 - mu), 1e-10)
    z = eta_lin + (yb - mu) / w
    if sw is not None:
        w = w * sw
        stat = stat * sw
    return np.concatenate([_quadratic(xs, w, z), [stat.sum()]])


def unpack_irls(v: np.ndarray, p: int):
    """(sum_w, sum_wx, sum_wxx, sum_wxz, sum_wz, fit_stat)."""
    return (*_unpack_quadratic(v[:-1], p), v[-1])


def irls_multinomial_kernel(xs, y, sw, o, coefs, b0s) -> np.ndarray:
    """IRLS sums for ALL classes at once (block-diagonal Newton — one
    data pass serves every class update): loglik, then per class the
    WLS sums of wirls = p_c(1 − p_c), z = (eta_c − o_c) + (y_c − p_c)/wirls."""
    eta_lin = xs @ coefs.T + b0s
    prob, ll = softmax_terms(eta_lin if o is None else eta_lin + o, y)
    if sw is not None:
        ll = ll * sw
    parts = [[ll.sum()]]
    for c in range(coefs.shape[0]):
        pc = prob[:, c]
        w = np.maximum(pc * (1.0 - pc), 1e-10)
        z = eta_lin[:, c] + (y[:, c] - pc) / w
        parts.append(_quadratic(xs, w if sw is None else w * sw, z))
    return np.concatenate(parts)


def unpack_irls_multinomial(v: np.ndarray, p: int, k: int):
    """([per-class (sum_w, sum_wx, sum_wxx, sum_wxz, sum_wz)], loglik)."""
    return [_unpack_quadratic(b, p) for b in np.split(v[1:], k)], v[0]


# -- Spark passes: one mapInPandas job each --


def moments_jvm(xy: DataFrame, p: int, k: int) -> Moments:
    """Moments via pure JVM aggregation (whole-stage codegen, no Python
    workers). Preferred for small/medium p; the agg list is
    O(p^2 / 2 + p*k) expressions. A ``w`` column (mean-1 sample weights,
    see ``assemble``) turns every sum into its weighted twin while ``n``
    stays the row count — the glmnet weights-sum-to-n convention."""
    w = F.col("w") if "w" in xy.columns else F.lit(1.0)
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(w * F.col(f"x{i}")).alias(f"sx{i}") for i in range(p)]
    aggs += [F.sum(w * F.col(f"y{i}")).alias(f"sy{i}") for i in range(k)]
    for i in range(p):
        for j in range(i, p):
            aggs.append(F.sum(w * F.col(f"x{i}") * F.col(f"x{j}")).alias(f"sxx{i}_{j}"))
    for i in range(p):
        for j in range(k):
            aggs.append(F.sum(w * F.col(f"x{i}") * F.col(f"y{j}")).alias(f"sxy{i}_{j}"))
    aggs += [F.sum(w * F.col(f"y{i}") * F.col(f"y{i}")).alias(f"syy{i}") for i in range(k)]
    row = xy.agg(*aggs).first()
    n = int(row["n"])
    if n == 0:
        raise ValueError("empty input: no rows to aggregate")
    sum_x = np.array([row[f"sx{i}"] for i in range(p)], dtype=np.float64)
    sum_y = np.array([row[f"sy{i}"] for i in range(k)], dtype=np.float64)
    sum_xx = np.zeros((p, p))
    for i in range(p):
        for j in range(i, p):
            sum_xx[i, j] = sum_xx[j, i] = row[f"sxx{i}_{j}"]
    sum_xy = np.array([[row[f"sxy{i}_{j}"] for j in range(k)] for i in range(p)], dtype=np.float64)
    sum_yy = np.array([row[f"syy{i}"] for i in range(k)], dtype=np.float64)
    return Moments(n, sum_x, sum_y, sum_xx, sum_xy, sum_yy)


def moments_and_gram(xy: DataFrame, p: int, k: int) -> Moments:
    """One distributed pass -> raw moments (n, Σx, Σy, ΣxxT, Σxy, Σyy);
    weighted when a ``w`` column is present (mean-1 weights, n = count)."""
    return Moments.unpack(_sum_partials(xy, _dense_batch(p, k), moments_kernel), p, k)


def moments_diag(xy: DataFrame, p: int, k: int) -> Moments:
    """O(p) moments (no p×p Gram): n, Σx, Σx² (diag only), Σy, Σxy, Σy².

    The wide-p path needs means/stds/X'y but must never materialize p²:
    sum_xx is the 1-D diagonal (see Moments.xx_diag) — callers on this
    path use x_std()/x_mean/sum_xy exclusively.
    """
    out = _sum_partials(xy, _dense_batch(p, k), moments_kernel, True)
    return Moments.unpack(out, p, k, diag=True)


def gradient_gaussian(
    xy: DataFrame,
    p: int,
    coef: np.ndarray,
    intercept: float,
    x_mean: np.ndarray,
    x_inv_std: np.ndarray,
) -> tuple[np.ndarray, float, float]:
    """One pass -> (X~'r/n, sum_r/n, rss/n) with r = X~ coef + b0 - y.

    The wide-p gaussian path (FISTA) uses this instead of the p² Gram:
    memory O(p), passes O(iterations).
    """
    batch = _dense_batch(p, 1, x_mean, x_inv_std)
    return unpack_grad(_sum_partials(xy, batch, grad_kernel, coef, intercept, "gaussian"),
                       p, "gaussian")


def cov_vec(
    xy: DataFrame,
    p: int,
    v: np.ndarray,
    x_mean: np.ndarray,
    x_inv_std: np.ndarray,
) -> np.ndarray:
    """One pass -> standardized Gram-vector product Cv (power iteration
    for Lipschitz estimates on the wide-p paths — O(p), never p²)."""
    return unpack_cov(_sum_partials(xy, _dense_batch(p, 0, x_mean, x_inv_std), cov_kernel, v), p)


def gradient_binomial(
    xy: DataFrame,
    p: int,
    coef: np.ndarray,
    b0: float,
    x_mean: np.ndarray,
    x_inv_std: np.ndarray,
) -> tuple[np.ndarray, float, float]:
    """One pass -> (X~'(mu-y)/n, mean(mu-y), loglik): the O(p) logistic
    gradient for the wide-p proximal path (no p² quadratic)."""
    batch = _dense_batch(p, 1, x_mean, x_inv_std)
    return unpack_grad(_sum_partials(xy, batch, grad_kernel, coef, b0, "binomial"),
                       p, "binomial")


def gradient_poisson(
    xy: DataFrame,
    p: int,
    coef: np.ndarray,
    b0: float,
    x_mean: np.ndarray,
    x_inv_std: np.ndarray,
) -> tuple[np.ndarray, float, float]:
    """One pass -> (X~'w̃(mu-y)/n, mean resid, deviance) for the poisson
    log link — the O(p) gradient used by strong-rule screening."""
    batch = _dense_batch(p, 1, x_mean, x_inv_std)
    return unpack_grad(_sum_partials(xy, batch, grad_kernel, coef, b0, "poisson"),
                       p, "poisson")


def gradient_multinomial(
    xy: DataFrame,
    p: int,
    coefs: np.ndarray,  # (k, p) standardized scale
    b0s: np.ndarray,
    x_mean: np.ndarray,
    x_inv_std: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, float]:
    """One pass -> (X~'(P-Y)/n as (k,p), colmeans(P-Y), loglik); y
    arrives one-hot (n, k)."""
    k = coefs.shape[0]
    batch = _dense_batch(p, k, x_mean, x_inv_std)
    return unpack_grad_multinomial(
        _sum_partials(xy, batch, grad_multinomial_kernel, coefs, b0s), p, k)


def weighted_quadratic(
    xy: DataFrame,
    p: int,
    coef: np.ndarray,
    intercept: float,
    x_mean: np.ndarray,
    x_inv_std: np.ndarray,
    kind: str = "binomial",
    cols=None,
) -> tuple[float, np.ndarray, np.ndarray, np.ndarray, float, float]:
    """One IRLS pass for binomial or poisson (see ``irls_kernel``) at the
    current (coef, intercept) on the *standardized* scale:

      returns (sum_w, sum_wx, sum_wxx, sum_wxz, sum_wz, fit_stat)

    fit_stat is the loglik for binomial and the (positive) deviance
    2 Σ w̃ [y log(y/mu) - (y-mu)] for poisson. Sample weights (mean-1
    ``w`` column) multiply both the IRLS weights and the fit statistic.

    ``cols`` (strong-rule screening) restricts the quadratic to a
    feature subset: coef is then |cols|-sized, the partial carries
    O(|S|²) floats instead of O(p²), and each batch reads only the
    screened columns.
    """
    if cols is not None:
        cols = np.asarray(cols, dtype=np.intp)
    batch = _dense_batch(p, 1, x_mean, x_inv_std, cols)
    return unpack_irls(_sum_partials(xy, batch, irls_kernel, coef, intercept, kind),
                       len(coef))


def weighted_quadratic_multinomial_all(
    xy: DataFrame,
    p: int,
    coefs: np.ndarray,  # (k, p) standardized scale
    intercepts: np.ndarray,  # (k,)
    x_mean: np.ndarray,
    x_inv_std: np.ndarray,
):
    """ONE distributed pass -> IRLS stats for every class + loglik."""
    k = coefs.shape[0]
    batch = _dense_batch(p, k, x_mean, x_inv_std)
    return unpack_irls_multinomial(
        _sum_partials(xy, batch, irls_multinomial_kernel, coefs, intercepts), p, k)


def collect_xy(
    xy: DataFrame, p: int, k: int, max_cells: float = 3e8
) -> tuple[np.ndarray, np.ndarray | None, np.ndarray | None, np.ndarray | None] | None:
    """Driver fast path: pull (X, Y[, w, o]) as numpy when n*(p+k) is
    small enough.

    Returns None when the data is too big — callers then stay on the
    distributed pass-per-iteration path. (The equivalent of Spark MLlib
    deciding between normal-equation and L-BFGS solvers.)
    """
    if np.isfinite(max_cells):
        n = xy.count()
        if n == 0:
            raise ValueError("empty input")
        if n * (p + k) > max_cells:
            return None
    pdf = xy.toPandas()
    if len(pdf) == 0:
        raise ValueError("empty input")
    x = pdf[xcols(p)].to_numpy(dtype=np.float64)
    y = pdf[ycols(k)].to_numpy(dtype=np.float64) if k else None
    w = pdf["w"].to_numpy(dtype=np.float64) if "w" in pdf.columns else None
    return x, y, w, _offset_array(pdf)


def validate_weights_offsets(df, weights_col=None, offset_names=()):
    """ONE aggregation validating weights and offsets for fit input.

    F.sum/F.min silently skip NULLs, so an unchecked NULL weight/offset
    would reach the Arrow batches as NaN and poison every moment/IRLS
    aggregate into all-NaN coefficients with no error — this pass
    rejects NULL/NaN up front, enforces non-negative, not-all-zero
    weights, and returns the glmnet sum-to-n rescaled weight expression
    (None when no weights). Shared by the dense (sgdnet) and sparse
    (sgdnet_sparse) entry points so their input contracts cannot drift.
    """
    if weights_col is None and not offset_names:
        return None
    wc = F.col(weights_col).cast("double") if weights_col is not None else None
    aggs = [F.count("*").alias("n")]
    if wc is not None:
        aggs += [F.count(wc).alias("wn"), F.sum(wc).alias("W"),
                 F.min(wc).alias("wmin"), F.max(F.isnan(wc).cast("int")).alias("wnan"),
                 F.max(wc).alias("wmax")]
    for i, name in enumerate(offset_names):
        oc = F.col(name).cast("double")
        aggs += [F.count(oc).alias(f"on{i}"),
                 F.max(F.isnan(oc).cast("int")).alias(f"onan{i}"),
                 F.max(F.abs(oc)).alias(f"oabs{i}")]
    vrow = df.agg(*aggs).first()
    if vrow["n"] == 0:
        raise ValueError("the predictor matrix (x) is empty.")
    weight_expr = None
    if wc is not None:
        if vrow["wn"] != vrow["n"] or vrow["wnan"]:
            raise ValueError(
                f"weights_col '{weights_col}' contains NULL/NaN values; "
                "filter or impute them before fitting"
            )
        if float(vrow["wmin"]) < 0:
            raise ValueError("sample weights must be non-negative")
        if not np.isfinite(float(vrow["wmax"])):
            # an inf weight makes W=inf, so the sum-to-n rescale factor
            # n/W is 0.0 — every finite weight silently becomes zero and
            # the fit goes all-NaN with no error (the local fast path
            # already rejects non-finite weights; keep the strategies in
            # lockstep)
            raise ValueError(
                f"weights_col '{weights_col}' contains infinite values; "
                "filter or cap them before fitting"
            )
        if float(vrow["W"]) <= 0:
            raise ValueError("sample weights must not all be zero")
        weight_expr = wc * F.lit(float(vrow["n"]) / float(vrow["W"]))
    for i, name in enumerate(offset_names):
        if vrow[f"on{i}"] != vrow["n"] or vrow[f"onan{i}"]:
            raise ValueError(
                f"offset_col '{name}' contains NULL/NaN values; "
                "filter or impute them before fitting"
            )
        if not np.isfinite(float(vrow[f"oabs{i}"])):
            raise ValueError(
                f"offset_col '{name}' contains infinite values; "
                "filter or cap them before fitting"
            )
    return weight_expr
