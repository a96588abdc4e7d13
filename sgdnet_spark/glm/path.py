"""Regularization-path drivers: two solver loops behind per-family setup.

Mirrors the reference semantics (src/utils.h:144 RegularizationPath,
src/families.h LambdaMax): lambda_max is the smallest penalty that zeroes
every coefficient, the path is ``nlambda`` log-spaced values down to
``lambda_max * lambda_min_ratio``, fits warm-start from the previous
lambda, and coefficients are returned unstandardized (original x scale).

Each public driver is family setup only: standardization, the null
model, lambda_max and the path. The solving happens in one of two
loops, as sgdnet runs every family through one SAGA loop:

- the Gram/IRLS loop: coordinate descent on a p×p quadratic — the Gram
  itself for gaussian/mgaussian, one IRLS quadratic per pass for
  binomial/poisson (``_irls_path_loop``) and per class for multinomial;
- the FISTA loop (``_fista_path``): accelerated proximal gradient on a
  (k, p) coefficient block with one gradient pass per iteration, for
  the wide-p ``*_path_fista`` drivers. A family supplies its gradient,
  Lipschitz bound, prox and whether the intercept is a free coordinate.

Every driver records its lambdas through one writer (``_PathOutput``).
All drivers consume a provider (providers.py) — they never see row data,
only p-sized aggregates, so the same code runs on numpy or on a cluster.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from sgdnet_spark.glm.solvers import (
    enet_cd_gram,
    group_cd_gram,
    log_space,
    soft_threshold,
    wls_enet_cd,
)

ALPHA_FLOOR = 1e-3  # reference utils.h:159 divides by max(elasticnet_mix, 0.001)


@dataclass
class PathResult:
    family: str
    lambdas: np.ndarray          # (nl,)
    a0: np.ndarray               # (nl,) or (k, nl)
    beta: np.ndarray             # (p, nl) or (k, p, nl)
    df: np.ndarray               # (nl,) nonzero count
    dev_ratio: np.ndarray        # (nl,)
    nulldev: float
    npasses: int
    x_mean: np.ndarray = field(default=None)
    x_std: np.ndarray = field(default=None)
    dfmat: np.ndarray | None = None  # (k, nl) for multivariate families
    # diagnostics (reference options(sgdnet.debug): attr(fit,'diagnostics')$loss):
    # one list of objective values per lambda (iterative families record one
    # entry per outer IRLS step; gram families record the final objective)
    loss: list | None = None
    # relaxed (debiased) fit: unpenalized refit on each lambda's active
    # set (glmnet relax=TRUE); None unless requested
    a0_relaxed: np.ndarray | None = None
    beta_relaxed: np.ndarray | None = None
    dev_ratio_relaxed: np.ndarray | None = None


def _standardization(mom, standardize: bool, center: bool):
    x_mean = mom.x_mean if center else np.zeros_like(mom.x_mean)
    if standardize:
        # the scale is the MEAN-CENTERED population std regardless of
        # center/intercept: reference utils.h:105 computes
        # StandardDeviation(x, x_center) unconditionally (the sparse
        # path too applies scale-only but derives the scale around the
        # mean)
        std = np.where(mom.x_std() > 0, mom.x_std(), 1.0)
    else:
        std = np.ones_like(x_mean)
    return x_mean, std


def _xty(mom, x_std, center: bool) -> np.ndarray:
    """Standardized B = X~'Y/n (p, k) from raw moments; no p×p term, so
    diagonal moments serve too."""
    n = mom.n
    if center:
        bxy = mom.sum_xy / n - np.outer(mom.x_mean, mom.y_mean)
    else:
        bxy = mom.sum_xy / n
    return bxy * (1.0 / x_std)[:, None]


def _gram(mom, x_mean, x_std, center: bool):
    """Standardized C = X~'X~/n and B = X~'Y/n from raw moments."""
    n = mom.n
    inv = 1.0 / x_std
    if center:
        cov = mom.sum_xx / n - np.outer(mom.x_mean, mom.x_mean)
    else:
        cov = mom.sum_xx / n
    return cov * np.outer(inv, inv), _xty(mom, x_std, center)


def _lambda_path(lambda_max, nlambda, lambda_min_ratio, lambdas):
    if lambdas is not None and len(lambdas) > 0:
        return np.sort(np.asarray(lambdas, dtype=float))[::-1].copy()
    if lambda_max <= 0:
        return np.zeros(nlambda)
    return log_space(lambda_max, lambda_max * lambda_min_ratio, nlambda)


class _PathOutput:
    """The output arrays of one path, filled one lambda at a time.

    ``record`` takes STANDARDIZED coefficients as a (k, p) block (a 1-d
    vector is k = 1) with their k intercepts on the standardized scale
    (gaussian/mgaussian: the response offsets) and writes the original-
    scale coefficients and intercepts (reference utils.h:Unstandardize),
    df, the per-class dfmat and the dev_ratio; multinomial intercepts
    are recentered to sum to 0 (reference R/sgdnet.R:409). ``y_scale``
    multiplies class c back to response units (mgaussian
    standardize_response). ``result`` packs the PathResult; univariate
    families come back as (p, nl) and (nl,)."""

    def __init__(self, family: str, lam_path, k: int, x_mean, x_std, intercept: bool,
                 relax: bool = False, y_scale=None):
        nl = len(lam_path)
        self.family, self.lam_path = family, lam_path
        self.x_mean, self.x_std, self.intercept, self.y_scale = x_mean, x_std, intercept, y_scale
        self.multi = family in ("multinomial", "mgaussian")
        self.beta = np.zeros((k, len(x_mean), nl))
        self.a0 = np.zeros((k, nl))
        self.dev_ratio = np.zeros(nl)
        self.df = np.zeros(nl, dtype=int)
        self.dfmat = np.zeros((k, nl), dtype=int)
        self.relaxed = (np.zeros_like(self.beta), np.zeros_like(self.a0),
                        np.zeros(nl)) if relax else None

    def record(self, i: int, coefs, b0s, dev_ratio: float, relaxed: bool = False) -> None:
        coefs, b0s = np.atleast_2d(coefs), np.atleast_1d(b0s)
        beta, a0, dr = self.relaxed if relaxed else (self.beta, self.a0, self.dev_ratio)
        dr[i] = dev_ratio
        for c in range(len(coefs)):
            b = (coefs[c] if self.y_scale is None else coefs[c] * self.y_scale[c]) / self.x_std
            beta[c, :, i] = b
            a0[c, i] = b0s[c] - float(self.x_mean @ b) if self.intercept else 0.0
        if self.family == "multinomial" and self.intercept:
            a0[:, i] -= a0[:, i].mean()
        if not relaxed:
            self.dfmat[:, i] = np.count_nonzero(coefs, axis=1)
            self.df[i] = int(np.count_nonzero(np.any(coefs != 0.0, axis=0)))

    def result(self, nulldev: float, provider, loss: list | None = None) -> PathResult:
        def shaped(a):
            return a if a is None or self.multi else a[0]

        beta_r, a0_r, dr_r = self.relaxed or (None, None, None)
        return PathResult(
            self.family, self.lam_path, shaped(self.a0), shaped(self.beta), self.df,
            self.dev_ratio, nulldev,
            # read AFTER the path: the provider increments passes per scan
            getattr(provider, "passes", 1), self.x_mean, self.x_std,
            self.dfmat if self.multi else None, loss=loss,
            a0_relaxed=shaped(a0_r), beta_relaxed=shaped(beta_r), dev_ratio_relaxed=dr_r,
        )


def _penalty_options(
    p: int,
    x_std: np.ndarray,
    penalty_factor=None,
    exclude=None,
    lower_limits=None,
    upper_limits=None,
):
    """Normalize glmnet-style differential-penalty options to solver vectors.

    Returns ``(pf, lo, hi)``: ``pf`` is the rescaled penalty-factor vector
    (None if uniform and nothing excluded), ``lo``/``hi`` are box limits on
    the STANDARDIZED coefficient scale (None if unbounded). Semantics match
    glmnet (the reference's declared compatibility target, R/sgdnet.R
    'Relationship with glmnet'): ``penalty.factor`` is rescaled so the
    finite factors sum to their count, ``exclude`` indices get an infinite
    factor, and limits are per-feature on the ORIGINAL x scale and must
    bracket zero (lower <= 0 <= upper).
    """
    pf = None
    if penalty_factor is not None:
        pf = np.asarray(penalty_factor, dtype=float).copy()
        if pf.shape != (p,):
            raise ValueError(f"penalty_factor must have length {p}, got {pf.shape}")
        if np.any(np.isnan(pf)) or np.any(pf < 0):
            raise ValueError("penalty_factor entries must be >= 0 (inf allowed = exclude)")
    if exclude is not None and len(exclude):
        idx = np.asarray(exclude, dtype=int)
        if idx.min() < 0 or idx.max() >= p:
            raise ValueError(f"exclude indices must be in [0, {p})")
        if pf is None:
            pf = np.ones(p)
        pf[idx] = np.inf
    if pf is not None:
        finite = np.isfinite(pf)
        tot = float(pf[finite].sum())
        if finite.any():
            if tot <= 0:
                raise ValueError("at least one finite penalty_factor must be > 0")
            pf[finite] *= finite.sum() / tot

    def _limits(v, name):
        if v is None:
            return None
        a = np.asarray(v, dtype=float)
        if a.ndim == 0:
            a = np.full(p, float(a))
        if a.shape != (p,):
            raise ValueError(f"{name} must be a scalar or length-{p}")
        return a

    lo = _limits(lower_limits, "lower_limits")
    hi = _limits(upper_limits, "upper_limits")
    if lo is not None and np.any(lo > 0):
        raise ValueError("lower_limits must be <= 0 (beta = 0 must stay feasible)")
    if hi is not None and np.any(hi < 0):
        raise ValueError("upper_limits must be >= 0 (beta = 0 must stay feasible)")
    if lo is not None and hi is not None and np.any(lo > hi):
        raise ValueError("lower_limits must be <= upper_limits")
    # bounds act on the standardized coefficients: b_std = b_orig * x_std
    if lo is not None:
        lo = lo * x_std
    if hi is not None:
        hi = hi * x_std
    return pf, lo, hi


def _lambda_max_scaled(score: np.ndarray, alpha: float, pf) -> float:
    """lambda_max under differential penalties: the smallest lam zeroing
    every PENALIZED coordinate — max_j score_j/pf_j over finite pf_j > 0
    (families.h:121 LambdaMax generalized per glmnet's vp scaling)."""
    a = max(alpha, ALPHA_FLOOR)
    if pf is None:
        return float(np.max(score)) / a
    mask = np.isfinite(pf) & (pf > 0)
    if not mask.any():
        return float(np.max(score)) / a
    return float(np.max(score[mask] / pf[mask])) / a


def _auto_path(lambdas, alpha: float, pf) -> bool:
    """Whether the first path point is lambda_max itself, where every
    coefficient is zero by construction (KKT with equality) and the
    null model is emitted without a fit: only on an automatic path with
    every feature penalized — ridge (alpha=0), user lambdas and zero
    penalty factors fit the first point for real."""
    pf_zero = pf is not None and bool(np.any(pf == 0))
    return (lambdas is None or len(lambdas) == 0) and alpha > 0 and not pf_zero


def _fista_terms(lam: float, alpha: float, pf):
    """Per-coordinate FISTA penalty terms: (l1_vec, l2_vec, l2_max).

    l1_j = lam*alpha*pf_j rides through the soft-threshold (an infinite
    factor pins the coordinate at exactly 0); the ridge term masks
    infinities to 0 so the smooth gradient stays finite. Scalars when
    the penalty is uniform (pf None)."""
    if pf is None:
        return lam * alpha, lam * (1.0 - alpha), lam * (1.0 - alpha)
    fin = np.isfinite(pf)
    pfm = np.where(fin, pf, 0.0)
    l1 = np.where(fin, lam * alpha * pfm, np.inf)
    l2 = lam * (1.0 - alpha) * pfm
    return l1, l2, float(np.max(l2)) if l2.size else 0.0


def _penalty_value(beta: np.ndarray, lam: float, alpha: float, pf) -> float:
    """Objective penalty term with per-coordinate factors (excluded
    coordinates contribute 0: their coefficient is identically 0)."""
    w = np.ones(beta.shape[0]) if pf is None else np.where(np.isfinite(pf), pf, 0.0)
    if beta.ndim == 1:
        l1 = float(w @ np.abs(beta))
        l2 = float(w @ (beta * beta))
    else:
        l1 = float(w @ np.linalg.norm(beta, axis=1))
        l2 = float(w @ (beta * beta).sum(axis=1))
    return lam * (alpha * l1 + (1.0 - alpha) / 2.0 * l2)


def _gaussian_null(mom, intercept: bool):
    """(y_off, y_var, nulldev) of the intercept-only gaussian model: the
    variance of y around its mean (around 0 without an intercept)."""
    n = mom.n
    y_mean = float(mom.y_mean[0]) if intercept else 0.0
    if intercept:
        y_var = float(mom.sum_yy[0] / n - y_mean**2)
    else:
        y_var = float(mom.sum_yy[0] / n)
    return y_mean, y_var, y_var * n


def _binomial_null(mom, intercept: bool):
    """(b0, ll_null) of the intercept-only logistic model without an
    offset, in closed form: the weighted moments already fold sample
    weights into pbar, so this holds weighted or not."""
    n = mom.n
    pbar = float(mom.y_mean[0])
    ll_null = n * (pbar * np.log(max(pbar, 1e-300)) + (1 - pbar) * np.log(max(1 - pbar, 1e-300)))
    b0 = float(np.log(pbar / (1 - pbar))) if intercept else 0.0
    return b0, ll_null


def _binomial_null_offset(irls, intercept: bool):
    """Intercept-only logistic MLE under a per-row offset, which has no
    closed form: Newton on the intercept, where each step is one IRLS
    pass ``irls(b0)`` and the WLS solve of the intercept-only quadratic
    IS the Newton step. Returns (b0, ll_null, the last pass's quadratic
    stats (sw, swx, swxx, swxz, swz))."""
    b0 = 0.0
    for _ in range(10):
        *stats, ll = irls(b0)
        if not intercept:
            break
        b0_new = stats[4] / stats[0]
        if abs(b0_new - b0) <= 1e-10 * max(1.0, abs(b0_new)):
            b0 = b0_new
            break
        b0 = b0_new
    return b0, ll, tuple(stats)


def _multinomial_null(mom, intercept: bool):
    """(b0s, ll_null) of the intercept-only softmax model without an
    offset: the log class priors, centered to sum to 0."""
    pri = mom.y_mean
    ll_null = float(mom.n * np.sum(pri * np.log(np.maximum(pri, 1e-300))))
    b0s = np.log(np.maximum(pri, 1e-300)) if intercept else np.zeros(len(pri))
    b0s = b0s - b0s.mean() if intercept else b0s
    return b0s, ll_null


def _multinomial_null_offset(provider, pri, k: int, p: int, intercept: bool):
    """Intercept-only softmax MLE under a fixed n×k offset, by the
    balancing fixed point b0_c <- b0_c + log(ȳ_c / P̄_c) (each iteration
    is one gradient pass; the score of the intercept-only likelihood is
    exactly P̄_c - ȳ_c, so the update has the MLE as its only fixed
    point). Returns (b0s, ll_null, null_gradient (k,p))."""
    zeros = np.zeros((k, p))
    if not intercept:
        g, _, ll = provider.grad_multinomial(zeros, np.zeros(k))
        return np.zeros(k), ll, g
    b0s = np.log(np.maximum(pri, 1e-300))
    b0s = b0s - b0s.mean()
    g = None
    ll = 0.0
    for _ in range(50):
        g, gb, ll = provider.grad_multinomial(zeros, b0s)
        pbar = gb + pri  # colmeans(P) = colmeans(P-Y) + colmeans(Y)
        step = np.log(np.maximum(pri, 1e-300) / np.maximum(pbar, 1e-300))
        b0s = b0s + step
        b0s = b0s - b0s.mean()
        if float(np.max(np.abs(step))) <= 1e-12:
            break
    g, _, ll = provider.grad_multinomial(zeros, b0s)
    return b0s, ll, g


def gaussian_path(
    provider,
    alpha: float,
    nlambda: int = 100,
    lambda_min_ratio: float = 1e-4,
    lambdas=None,
    standardize: bool = True,
    intercept: bool = True,
    thresh: float = 1e-7,
    maxit: int = 1000,
    mom=None,
    penalty_factor=None,
    exclude=None,
    lower_limits=None,
    upper_limits=None,
    relax: bool = False,
) -> PathResult:
    mom = mom or provider.moments()
    n = mom.n
    x_mean, x_std = _standardization(mom, standardize, intercept)
    C, B = _gram(mom, x_mean, x_std, intercept)
    b = B[:, 0]
    y_mean, y_var, nulldev = _gaussian_null(mom, intercept)
    p = len(b)
    pf, lo, hi = _penalty_options(p, x_std, penalty_factor, exclude, lower_limits, upper_limits)

    lambda_max = _lambda_max_scaled(np.abs(b), alpha, pf)
    lam_path = _lambda_path(lambda_max, nlambda, lambda_min_ratio, lambdas)

    # the ridge closed form covers every unconstrained case: finite
    # factors scale the diagonal, infinite (excluded) coordinates drop
    # out of the system exactly; only box limits go through CD
    ridge_closed = alpha == 0.0 and lo is None and hi is None
    beta = np.zeros(p)
    out = _PathOutput("gaussian", lam_path, 1, x_mean, x_std, intercept, relax=relax)
    relax_cache: dict = {}
    losses: list = []
    for i, lam in enumerate(lam_path):
        if ridge_closed:
            # ridge: (C + lam diag(pf)) beta = b has a closed form — solve
            # it directly (exact, and the basis of the DuckDB-checkable
            # oracle queries; reference tests/testthat/test-gaussian.R:33
            # does the same cross-check against glmnet's ridge).
            if pf is None:
                beta = np.linalg.solve(C + lam * np.eye(p), b)
            else:
                fin = np.isfinite(pf)
                beta = np.zeros(p)
                beta[fin] = np.linalg.solve(
                    C[np.ix_(fin, fin)] + lam * np.diag(pf[fin]), b[fin]
                )
        else:
            beta, _ = enet_cd_gram(C, b, lam, alpha, beta, tol=thresh, maxit=maxit,
                                   pf=pf, lo=lo, hi=hi)
        rss_n = y_var - 2.0 * float(b @ beta) + float(beta @ C @ beta)
        pen = _penalty_value(beta, lam, alpha, pf)
        losses.append([0.5 * rss_n + pen])
        out.record(i, beta, y_mean, 1.0 - rss_n * n / nulldev if nulldev > 0 else 0.0)
        if relax:
            # relaxed (debiased) fit, glmnet relax=TRUE: unpenalized OLS on
            # this lambda's active set — closed form from the SAME Gram, no
            # extra data pass; supports repeat along the path, so cache.
            # Box limits stay binding on the refit (glmnet semantics: the
            # relaxed fit is a lambda=0 fit under the SAME constraints), so
            # the bounded case runs projected CD instead of lstsq.
            A = tuple(np.nonzero(beta)[0])
            rb = relax_cache.get(A)
            if rb is None:
                rb = np.zeros(p)
                if A:
                    idx = np.asarray(A, dtype=np.intp)
                    if lo is not None or hi is not None:
                        rb[idx], _ = enet_cd_gram(
                            C[np.ix_(idx, idx)], b[idx], 0.0, 0.0,
                            beta[idx].copy(), tol=min(thresh, 1e-9), maxit=maxit,
                            lo=None if lo is None else lo[idx],
                            hi=None if hi is None else hi[idx],
                        )
                    else:
                        rb[idx] = np.linalg.lstsq(
                            C[np.ix_(idx, idx)], b[idx], rcond=None
                        )[0]
                relax_cache[A] = rb
            rssr = y_var - 2.0 * float(b @ rb) + float(rb @ C @ rb)
            out.record(i, rb, y_mean, 1.0 - rssr * n / nulldev if nulldev > 0 else 0.0,
                       relaxed=True)
    return out.result(nulldev, provider, loss=losses)


def mgaussian_path(
    provider,
    alpha: float,
    nlambda: int = 100,
    lambda_min_ratio: float = 1e-4,
    lambdas=None,
    standardize: bool = True,
    intercept: bool = True,
    standardize_response: bool = False,
    thresh: float = 1e-7,
    maxit: int = 1000,
    mom=None,
    penalty_factor=None,
    exclude=None,
) -> PathResult:
    mom = mom or provider.moments()
    n = mom.n
    k = len(mom.sum_y)
    x_mean, x_std = _standardization(mom, standardize, intercept)
    C, B = _gram(mom, x_mean, x_std, intercept)
    y_mean = mom.y_mean if intercept else np.zeros(k)
    y_var = mom.sum_yy / n - y_mean**2 if intercept else mom.sum_yy / n
    nulldev = float(y_var.sum()) * n

    y_scale = np.ones(k)
    if standardize_response:
        y_scale = np.where(mom.y_std() > 0, mom.y_std(), 1.0)
    Bs = B / y_scale[None, :]
    p = Bs.shape[0]
    pf, _, _ = _penalty_options(p, x_std, penalty_factor, exclude)

    # group lambda_max: smallest lam with all PENALIZED row-groups zero
    lambda_max = _lambda_max_scaled(np.linalg.norm(Bs, axis=1), alpha, pf)
    lam_path = _lambda_path(lambda_max, nlambda, lambda_min_ratio, lambdas)

    beta = np.zeros((p, k))
    out = _PathOutput("mgaussian", lam_path, k, x_mean, x_std, intercept, y_scale=y_scale)
    yv_scaled = y_var / (y_scale**2)
    for i, lam in enumerate(lam_path):
        beta, _ = group_cd_gram(C, Bs, lam, alpha, beta, tol=thresh, maxit=maxit, pf=pf)
        # per-response RSS/n on the scaled problem, unscaled back to y units
        rss_c = yv_scaled - 2.0 * np.einsum("pc,pc->c", Bs, beta) + np.einsum("pc,pq,qc->c", beta, C, beta)
        dev = float(np.sum(rss_c * y_scale**2)) * n
        out.record(i, beta.T, y_mean, 1.0 - dev / nulldev if nulldev > 0 else 0.0)
    return out.result(nulldev, provider)


def _power_iter_L(matvec, p: int, iters: int = 6) -> float:
    """lambda_max of the standardized Gram by power iteration on
    ``matvec(v) = C v`` (one data pass per step) — never materializes
    p², with a safety margin over the estimate."""
    rng = np.random.default_rng(0)
    v = rng.normal(size=p)
    v /= np.linalg.norm(v)
    L = 1.0
    for _ in range(iters):
        cv = matvec(v)
        nrm = float(np.linalg.norm(cv))
        if nrm == 0:
            break
        L = nrm
        v = cv / nrm
    return L * 1.05


def _fista_path(
    family: str, provider, grad, L: float, B: np.ndarray, b0s: np.ndarray, nulldev: float,
    devr_of, x_mean, x_std, *, free_b0: bool, tol: float, alpha: float, nlambda: int,
    lambda_min_ratio: float, lambdas, intercept: bool, maxit: int, penalty_factor=None,
    exclude=None, lower_limits=None, upper_limits=None, grouped: bool = False,
) -> PathResult:
    """The FISTA path loop behind the three ``*_path_fista`` drivers:
    accelerated proximal gradient on a (k, p) coefficient block (k = 1
    for gaussian and binomial), warm-started along the path, one
    gradient pass per iteration plus one at each solution.

    The family supplies ``grad(Z, zb) -> (G, gb, stat)`` (the smooth
    gradient at coefficients Z and intercepts zb, and the statistic
    ``devr_of`` turns into the dev_ratio), the Lipschitz bound ``L``,
    the null gradient ``B`` (p, k) that sets lambda_max, the null
    intercepts ``b0s``, and ``free_b0``: whether the intercepts move
    with the iterates (a fixed intercept — gaussian — stays out of the
    convergence test). The prox is the elementwise soft-threshold, then
    the box limits, or with ``grouped`` the row-wise group shrink."""
    k, p = len(b0s), B.shape[0]
    pf, lo, hi = _penalty_options(p, x_std, penalty_factor, exclude, lower_limits, upper_limits)
    if grouped:
        # all-zero iff every row's null-gradient 2-norm is within the
        # group threshold, so lambda_max = max_j ||B_j.||_2 / (alpha pf_j)
        score = np.sqrt((B * B).sum(axis=1))

        def prox(cand, thr):
            # row-wise group soft-threshold over the k classes of each
            # feature (groups are the columns of the (k, p) block); an
            # infinite factor drives the scale to 0 = excluded
            nrm = np.sqrt((cand * cand).sum(axis=0))
            return cand * np.maximum(0.0, 1.0 - thr / np.maximum(nrm, 1e-300))
    else:
        score = np.max(np.abs(B), axis=1)
        lo_, hi_ = (-np.inf if lo is None else lo), (np.inf if hi is None else hi)

        def prox(cand, thr):
            new = soft_threshold(cand, thr)
            return new if lo is None and hi is None else np.clip(new, lo_, hi_)
    lam_path = _lambda_path(_lambda_max_scaled(score, alpha, pf), nlambda, lambda_min_ratio,
                            lambdas)

    out = _PathOutput(family, lam_path, k, x_mean, x_std, intercept)
    coefs = np.zeros((k, p))
    first_is_null = _auto_path(lambdas, alpha, pf)
    for i, lam in enumerate(lam_path):
        if first_is_null and i == 0:
            out.record(i, coefs, b0s, 0.0)
            continue
        l1v, l2v, l2max = _fista_terms(lam, alpha, pf)
        step = 1.0 / (L + l2max)
        z, zb = coefs.copy(), b0s.copy()
        t = 1.0
        prev, prevb = coefs.copy(), b0s.copy()
        for _ in range(maxit):
            G, gb, _ = grad(z, zb)
            # per-feature penalty vectors broadcast over the k rows
            new = prox(z - step * (G + l2v * z), step * l1v)
            t_new = (1.0 + np.sqrt(1.0 + 4.0 * t * t)) / 2.0
            z = new + (t - 1.0) / t_new * (new - prev)
            delta = float(np.max(np.abs(new - prev)))
            scale = float(np.max(np.abs(new)))
            newb = zb
            if free_b0:
                newb = zb - step * gb
                zb = newb + (t - 1.0) / t_new * (newb - prevb)
                delta = max(delta, float(np.max(np.abs(newb - prevb))))
                scale = max(scale, float(np.max(np.abs(newb))))
            prev, prevb = new, newb
            t = t_new
            if delta <= tol * max(scale, 1e-12):
                break
        coefs, b0s = prev, prevb
        _, _, stat = grad(coefs, b0s)
        out.record(i, coefs, b0s, devr_of(stat) if nulldev > 0 else 0.0)
    return out.result(nulldev, provider)


def gaussian_path_fista(
    provider,
    alpha: float,
    nlambda: int = 20,
    lambda_min_ratio: float = 1e-2,
    lambdas=None,
    standardize: bool = True,
    intercept: bool = True,
    thresh: float = 1e-6,
    maxit: int = 200,
    mom=None,
    penalty_factor=None,
    exclude=None,
    lower_limits=None,
    upper_limits=None,
) -> PathResult:
    """Wide-p gaussian path: accelerated proximal gradient (FISTA) with
    one distributed gradient pass per iteration — O(p) memory, never a
    p×p Gram. Lipschitz constant from distributed power iteration
    (Cv = grad(v) + b, one pass per step); the intercept stays fixed at
    the response mean.

    The n-scalable complement to gaussian_path: use when p² no longer
    fits the driver.
    """
    mom = mom or provider.moments()
    n = mom.n
    x_mean, x_std = _standardization(mom, standardize, intercept)
    provider.set_standardization(x_mean, 1.0 / x_std)
    y_mean, _, nulldev = _gaussian_null(mom, intercept)
    B = _xty(mom, x_std, intercept)

    def grad(Z, _zb):
        g, _, rssn = provider.gradient_gaussian(Z[0], y_mean)
        return g, 0.0, rssn

    L = _power_iter_L(lambda v: provider.gradient_gaussian(v, y_mean)[0] + B[:, 0], B.shape[0])
    return _fista_path(
        "gaussian", provider, grad, L, B, np.array([y_mean]), nulldev,
        lambda rssn: 1.0 - rssn * n / nulldev, x_mean, x_std,
        free_b0=False, tol=thresh, alpha=alpha, nlambda=nlambda,
        lambda_min_ratio=lambda_min_ratio, lambdas=lambdas, intercept=intercept,
        maxit=maxit, penalty_factor=penalty_factor, exclude=exclude,
        lower_limits=lower_limits, upper_limits=upper_limits,
    )


def binomial_path_fista(
    provider,
    alpha: float,
    nlambda: int = 20,
    lambda_min_ratio: float = 1e-2,
    lambdas=None,
    standardize: bool = True,
    intercept: bool = True,
    thresh: float = 1e-7,
    maxit: int = 500,
    mom=None,
    penalty_factor=None,
    exclude=None,
    lower_limits=None,
    upper_limits=None,
) -> PathResult:
    """Wide-p / sparse logistic elastic-net path: accelerated proximal
    gradient with one distributed gradient pass per iteration — O(p)
    driver state, never a p×p quadratic (the saga-sparse.h capability,
    Spark-shaped). Lipschitz bound: max(1, lambda_max(C))/4 for the
    centered extended design [1, X~]."""
    mom = mom or provider.moments_diag()
    x_mean, x_std = _standardization(mom, standardize, intercept)
    provider.set_standardization(x_mean, 1.0 / x_std)
    p = len(x_mean)
    if not getattr(provider, "has_offset", False):
        b0, ll_null = _binomial_null(mom, intercept)
        B = _xty(mom, x_std, intercept)
    else:
        # offset: the intercept-only Newton runs on empty-column IRLS
        # passes (O(n) each), then lambda_max reads off the null gradient
        ecols = np.zeros(0, dtype=np.intp)
        b0, ll_null, _ = _binomial_null_offset(
            lambda b0_: provider.irls_binomial(np.zeros(0), b0_, cols=ecols), intercept)
        B = -provider.grad_binomial(np.zeros(p), b0)[0][:, None]
    nulldev = -2.0 * ll_null
    # binomial lambda_max: gradient of the NULL model (families.h:198)
    return _fista_path(
        "binomial", provider, lambda Z, zb: provider.grad_binomial(Z[0], zb[0]),
        max(1.0, _power_iter_L(provider.cov_vec, p)) / 4.0, B, np.array([b0]), nulldev,
        lambda ll: 1.0 - (-2.0 * ll) / nulldev, x_mean, x_std,
        free_b0=intercept, tol=max(thresh, 1e-7), alpha=alpha, nlambda=nlambda,
        lambda_min_ratio=lambda_min_ratio, lambdas=lambdas, intercept=intercept,
        maxit=maxit, penalty_factor=penalty_factor, exclude=exclude,
        lower_limits=lower_limits, upper_limits=upper_limits,
    )


def multinomial_path_fista(
    provider,
    alpha: float,
    nlambda: int = 20,
    lambda_min_ratio: float = 1e-2,
    lambdas=None,
    standardize: bool = True,
    intercept: bool = True,
    thresh: float = 1e-7,
    maxit: int = 500,
    mom=None,
    grouped: bool = False,
    penalty_factor=None,
    exclude=None,
) -> PathResult:
    """Wide-p / sparse softmax elastic-net path — k×p proximal-gradient
    twin of binomial_path_fista (elementwise soft-threshold per class,
    glmnet's ungrouped multinomial penalty).

    ``grouped=True`` swaps the elementwise prox for the row-wise group
    soft-threshold (glmnet type.multinomial='grouped': the L1 part
    becomes lam*alpha*sum_j ||beta_j.||_2 over each feature's k-vector
    of class coefficients, so a feature enters or leaves the model for
    ALL classes together). This closes the reference's own TODO at
    R/sgdnet.R:265 ("implement group lasso penalty for multinomial
    model" — it forces type.multinomial='ungrouped'); the group prox is
    the same operator the mgaussian family uses (solvers.group_cd_gram),
    applied here on the isotropic FISTA step where it has a closed form
    even though per-class IRLS curvatures differ."""
    mom = mom or provider.moments_diag()
    k = len(mom.sum_y)
    x_mean, x_std = _standardization(mom, standardize, intercept)
    provider.set_standardization(x_mean, 1.0 / x_std)
    p = len(x_mean)
    if not getattr(provider, "has_offset", False):
        b0s, ll_null = _multinomial_null(mom, intercept)
        B = _xty(mom, x_std, intercept)
    else:
        # n×k offset: null intercepts/gradient have no moment closed form
        b0s, ll_null, g0 = _multinomial_null_offset(provider, mom.y_mean, k, p, intercept)
        B = -g0.T  # (p, k) null gradient flips sign: B = <x~, y - P0>/n
    nulldev = -2.0 * ll_null
    # softmax hessian <= (1/2) I ⊗ C  (tighter 1/4 holds per class;
    # 1/2 is the safe multiclass bound)
    return _fista_path(
        "multinomial", provider, provider.grad_multinomial,
        max(1.0, _power_iter_L(provider.cov_vec, p)) / 2.0, B, b0s, nulldev,
        lambda ll: 1.0 - (-2.0 * ll) / nulldev, x_mean, x_std,
        free_b0=intercept, tol=max(thresh, 1e-7), grouped=grouped, alpha=alpha,
        nlambda=nlambda, lambda_min_ratio=lambda_min_ratio, lambdas=lambdas,
        intercept=intercept, maxit=maxit, penalty_factor=penalty_factor, exclude=exclude,
    )


def _relax_refit_cached(
    cache: dict,
    irls,
    coef_pen: np.ndarray,
    b0_pen: float,
    *,
    p: int,
    n: int,
    intercept: bool,
    thresh: float,
    maxit: int,
    outer_maxit: int,
    lo,
    hi,
    stat0: float,
):
    """Shared relaxed-refit kernel for the IRLS families (glmnet
    relax=TRUE): unpenalized IRLS restricted to the active set,
    warm-started from the penalized solution, box limits kept binding
    (a lambda=0 fit under the SAME constraints). ``irls`` is the
    provider's family pass; its 6th return (log-likelihood or deviance)
    is passed through. Supports repeat along a path, so refits cache by
    support tuple."""
    A = tuple(np.nonzero(coef_pen)[0])
    hit = cache.get(A)
    if hit is None:
        idx = np.asarray(A, dtype=np.intp)
        cs = coef_pen[idx]
        rb0 = b0_pen
        stat = stat0
        for _ in range(outer_maxit):
            sw_, swx_, swxx_, swxz_, swz_, stat = irls(cs, rb0, cols=idx)
            new_cs, new_b0, _ = wls_enet_cd(
                sw_, swx_, swxx_, swxz_, swz_, n, 0.0, 0.0, cs, rb0, intercept,
                tol=thresh, maxit=maxit,
                lo=None if lo is None else lo[idx],
                hi=None if hi is None else hi[idx],
            )
            delta = max(float(np.max(np.abs(new_cs - cs))) if len(idx) else 0.0,
                        abs(new_b0 - rb0))
            scale = max(float(np.max(np.abs(new_cs))) if len(idx) else 0.0,
                        abs(new_b0), 1e-12)
            cs, rb0 = new_cs, new_b0
            if delta <= max(thresh, 1e-6) * scale:
                break
        full = np.zeros(p)
        full[idx] = cs
        hit = (full, float(rb0), float(stat))
        cache[A] = hit
    return hit


def _strong_set(g: np.ndarray, coef: np.ndarray, lam: float, lam_prev: float, alpha: float,
                pf=None):
    """Sequential strong rule (Tibshirani et al. 2012): keep j with
    |grad_j| >= pf_j*alpha*(2*lam - lam_prev), plus the current support
    (pf_j = 1 uniform; 0 = always kept, inf = excluded). The rule is a
    heuristic — callers MUST re-check KKT on the full gradient and
    re-solve with any violators added (exactness is restored there)."""
    thr = alpha * (2.0 * lam - lam_prev)
    if pf is not None:
        fin = np.isfinite(pf)
        # inf factor -> inf threshold -> never enters (masked multiply so
        # a non-positive thr can't produce nan/-inf against an inf factor)
        thr = np.where(fin, thr * np.where(fin, pf, 0.0), np.inf)
    S = np.union1d(np.where(np.abs(g) >= thr)[0], np.nonzero(coef)[0]).astype(np.intp)
    if len(S) == 0:
        # degenerate guard: keep the steepest coordinate so the restricted
        # solve is well-formed (it will simply solve to zero)
        S = np.array([int(np.argmax(np.abs(g)))], dtype=np.intp)
    return S


def _irls_path_loop(
    family: str,
    irls_fn,
    grad_fn,
    loss_of,
    devr_of,
    *,
    p: int,
    n: int,
    lam_path,
    lambda_max: float,
    alpha: float,
    pf,
    lo,
    hi,
    intercept: bool,
    thresh: float,
    maxit: int,
    outer_maxit: int,
    do_screen: bool,
    auto_path: bool,
    b0_null: float,
    stat_null: float,
    nulldev: float,
    first_point_loss: float,
    prev_stats,
    x_mean,
    x_std,
    relax: bool,
    relax_refit,
    provider=None,
) -> PathResult:
    """The shared screened/unscreened IRLS path loop behind
    binomial_path and poisson_path. Family-specific pieces enter as
    callables: ``irls_fn(coef, b0, cols=None)`` returns the
    weighted-quadratic stats + the family's fit statistic (binomial:
    log-likelihood; poisson: deviance), ``grad_fn(coef, b0)`` the full
    penalized-scale gradient, ``loss_of(stat)`` the per-pass objective
    WITHOUT the penalty term, ``devr_of(stat)`` the dev_ratio.
    Everything else — secant warm starts, sequential strong-rule
    screening with the KKT repair loop and its unscreened fallback, the
    prox-Newton stale-quadratic warm solve, unstandardization, relax
    refits — is family-independent and lives here exactly once."""
    coef = np.zeros(p)
    b0 = b0_null
    out = _PathOutput(family, lam_path, 1, x_mean, x_std, intercept, relax=relax)
    losses: list = []
    prev_sol: list[tuple[float, np.ndarray, float]] = []  # (lam, coef, b0)
    stat = stat_null
    for i, lam in enumerate(lam_path):
        if auto_path and i == 0:
            # at lambda_max every coefficient is zero by construction
            # (KKT with equality) — emit the null model directly
            out.record(i, coef, b0_null, 0.0)
            if relax:
                # empty support: relaxed == null model
                out.record(i, coef, b0_null, 0.0, relaxed=True)
            losses.append([first_point_loss])
            continue
        # secant warm-start: extrapolate the solution curve from the two
        # previous lambdas — most path points then converge in ONE IRLS
        # pass instead of two+ (the passes are the entire fit cost)
        if len(prev_sol) >= 2:
            (l1, c1, i1), (l2, c2, i2) = prev_sol[-2], prev_sol[-1]
            if l1 != l2:
                r = (lam - l2) / (l2 - l1)
                coef = c2 + r * (c2 - c1)
                b0 = i2 + r * (i2 - i1)
        stat = stat_null
        lam_losses: list = []
        if do_screen:
            g, _, _ = grad_fn(coef, b0)
            lam_prev = lam_path[i - 1] if i > 0 else lambda_max
            S = _strong_set(g, coef, lam, lam_prev, alpha, pf=pf)
            _kkt = 0
            while True:
                pf_S = pf[S] if pf is not None else None
                cs = coef[S]
                for _ in range(outer_maxit):
                    sw, swx, swxx, swxz, swz, stat = irls_fn(cs, b0, cols=S)
                    lam_losses.append(loss_of(stat) + _penalty_value(cs, lam, alpha, pf_S))
                    new_cs, new_b0, _ = wls_enet_cd(
                        sw, swx, swxx, swxz, swz, n, lam, alpha, cs, b0, intercept,
                        tol=thresh, maxit=maxit, pf=pf_S,
                    )
                    delta = max(float(np.max(np.abs(new_cs - cs))) if len(cs) else 0.0,
                                abs(new_b0 - b0))
                    scale = max(float(np.max(np.abs(new_cs))) if len(cs) else 0.0,
                                abs(new_b0), 1e-12)
                    cs, b0 = new_cs, new_b0
                    if delta <= max(thresh, 1e-6) * scale:
                        break
                coef = np.zeros(p)
                coef[S] = cs
                # exactness: KKT over the FULL gradient; violators join S
                # (per-coordinate threshold alpha*lam*pf_j; an infinite
                # factor means the coordinate can never violate)
                g, _, _ = grad_fn(coef, b0)
                kkt_thr = alpha * lam * (pf if pf is not None else 1.0) + 1e-7
                viol = np.setdiff1d(np.where(np.abs(g) > kkt_thr)[0], S)
                if len(viol) == 0:
                    break
                _kkt += 1
                if _kkt >= 8:
                    # repair didn't converge by growing S incrementally:
                    # drop screening for this path point — one solve on
                    # the full feature set restores exactness by
                    # construction (viol ⊆ S is then empty), so a
                    # screened point can never ship with a wrong support
                    S = np.arange(p, dtype=np.intp)
                else:
                    S = np.union1d(S, viol).astype(np.intp)
            prev_stats = None  # restricted stats don't replay across lambdas
        else:
            # prox-Newton warm start: re-solve the NEW lambda on the stale
            # quadratic from the previous one (driver-side only, no data
            # pass) — the refresh pass below then usually confirms in one go
            if prev_stats is not None:
                coef, b0, _ = wls_enet_cd(
                    *prev_stats, n, lam, alpha, coef, b0, intercept,
                    tol=thresh, maxit=maxit, pf=pf, lo=lo, hi=hi,
                )
            for _ in range(outer_maxit):
                sw, swx, swxx, swxz, swz, stat = irls_fn(coef, b0)
                prev_stats = (sw, swx, swxx, swxz, swz)
                lam_losses.append(loss_of(stat) + _penalty_value(coef, lam, alpha, pf))
                new_coef, new_b0, _ = wls_enet_cd(
                    sw, swx, swxx, swxz, swz, n, lam, alpha, coef, b0, intercept,
                    tol=thresh, maxit=maxit, pf=pf, lo=lo, hi=hi,
                )
                delta = max(float(np.max(np.abs(new_coef - coef))) if p else 0.0,
                            abs(new_b0 - b0))
                scale = max(float(np.max(np.abs(new_coef))) if p else 0.0,
                            abs(new_b0), 1e-12)
                coef, b0 = new_coef, new_b0
                if delta <= max(thresh, 1e-6) * scale:
                    break
        prev_sol.append((float(lam), coef.copy(), float(b0)))
        if len(prev_sol) > 2:
            prev_sol.pop(0)
        losses.append(lam_losses)
        out.record(i, coef, b0, devr_of(stat) if nulldev > 0 else 0.0)
        if relax:
            rfull, rb0, stat_r = relax_refit(coef, b0)
            out.record(i, rfull, rb0, devr_of(stat_r) if nulldev > 0 else 0.0, relaxed=True)
    return out.result(nulldev, provider, loss=losses)


def binomial_path(
    provider,
    alpha: float,
    nlambda: int = 100,
    lambda_min_ratio: float = 1e-4,
    lambdas=None,
    standardize: bool = True,
    intercept: bool = True,
    thresh: float = 1e-7,
    maxit: int = 1000,
    outer_maxit: int = 30,
    mom=None,
    screen: bool | str = "auto",
    penalty_factor=None,
    exclude=None,
    lower_limits=None,
    upper_limits=None,
    relax: bool = False,
) -> PathResult:
    mom = mom or provider.moments()
    n = mom.n
    x_mean, x_std = _standardization(mom, standardize, intercept)
    b = _xty(mom, x_std, intercept)[:, 0]
    provider.set_standardization(x_mean, 1.0 / x_std)
    p = len(b)
    pf, lo, hi = _penalty_options(p, x_std, penalty_factor, exclude, lower_limits, upper_limits)

    prev_stats = None  # last IRLS quadratic, anchored at the previous solution
    if not getattr(provider, "has_offset", False):
        # closed form; the Gram's b gives lambda_max = max|x̃ᵀ w̃(y-ȳ)|/n
        b0, ll_null = _binomial_null(mom, intercept)
    else:
        # the full-p Newton passes leave a warm quadratic for the first
        # path point; lambda_max reads off the null gradient
        # x̃ᵀ w̃ (y-mu0)/n = (swxz-b0·swx)/n
        b0, ll_null, prev_stats = _binomial_null_offset(
            lambda b0_: provider.irls_binomial(np.zeros(p), b0_), intercept)
        _, swx, _, swxz, _ = prev_stats
        b = (swxz - b0 * swx) / n

    nulldev = -2.0 * ll_null

    lambda_max = _lambda_max_scaled(np.abs(b), alpha, pf)
    lam_path = _lambda_path(lambda_max, nlambda, lambda_min_ratio, lambdas)

    relax_cache: dict = {}

    def _relax_refit(coef_pen: np.ndarray, b0_pen: float):
        return _relax_refit_cached(
            relax_cache, provider.irls_binomial, coef_pen, b0_pen,
            p=p, n=n, intercept=intercept, thresh=thresh, maxit=maxit,
            outer_maxit=outer_maxit, lo=lo, hi=hi, stat0=ll_null,
        )

    # sequential strong-rule screening: pays once p is large enough that
    # the O(n·p²) quadratic dominates the extra O(n·p) gradient pass; the
    # KKT re-check restores exactness, so the rule being heuristic costs
    # nothing but an occasional re-solve. Off for ridge (alpha=0: nothing
    # is ever discarded), for small p (goldens stay at p<=64), and under
    # box limits (a bound-active coordinate fails the plain |grad| KKT
    # test by design — the rule would loop on it).
    do_screen = (
        ((screen is True) or (screen == "auto" and p > 100))
        and alpha > 0
        and lo is None and hi is None
    )
    return _irls_path_loop(
        "binomial", provider.irls_binomial, provider.grad_binomial,
        loss_of=lambda ll: -ll / n,
        devr_of=lambda ll: 1.0 - (-2.0 * ll) / nulldev,
        p=p, n=n, lam_path=lam_path, lambda_max=lambda_max, alpha=alpha,
        pf=pf, lo=lo, hi=hi, intercept=intercept, thresh=thresh,
        maxit=maxit, outer_maxit=outer_maxit, do_screen=do_screen,
        auto_path=_auto_path(lambdas, alpha, pf), b0_null=b0, stat_null=ll_null,
        nulldev=nulldev, first_point_loss=-ll_null / n,
        prev_stats=prev_stats, x_mean=x_mean, x_std=x_std,
        relax=relax, relax_refit=_relax_refit, provider=provider,
    )


def poisson_path(
    provider,
    alpha: float,
    nlambda: int = 100,
    lambda_min_ratio: float = 1e-4,
    lambdas=None,
    standardize: bool = True,
    intercept: bool = True,
    thresh: float = 1e-7,
    maxit: int = 1000,
    outer_maxit: int = 30,
    mom=None,
    screen: bool | str = "auto",
    penalty_factor=None,
    exclude=None,
    lower_limits=None,
    upper_limits=None,
    relax: bool = False,
) -> PathResult:
    """Poisson (log link) elastic-net path — an EXTENSION of the
    reference surface (R/sgdnet.R supports gaussian/binomial/
    multinomial/mgaussian only; R/sgdnet.R:341 likewise leaves offset
    as a TODO). glmnet-style semantics: IRLS with mu = exp(eta),
    wirls = mu, working response z = eta + (y-mu)/mu, inner penalized
    WLS coordinate descent; deviance = 2 Σ w̃ [y log(y/mu) - (y-mu)].
    Sample weights and offsets ride through the provider. Cross-checked
    at lambda=0 against MLlib GeneralizedLinearRegression
    (family='poisson') in tests/test_weights_offset.py.
    """
    mom = mom or provider.moments()
    n = mom.n
    x_mean, x_std = _standardization(mom, standardize, intercept)
    provider.set_standardization(x_mean, 1.0 / x_std)
    p = len(x_mean)

    has_off = getattr(provider, "has_offset", False)
    if not intercept:
        b0_null = 0.0
    elif has_off:
        b0_null = provider.poisson_null_intercept()
    else:
        b0_null = float(np.log(max(float(mom.y_mean[0]), 1e-300)))
    # ONE pass at the null model yields nulldev, the null gradient for
    # lambda_max (x̃ᵀ w̃(y-mu0)/n = (swxz - b0·swx)/n), and a warm
    # prox-Newton quadratic for the first real path point
    sw, swx, swxx, swxz, swz, dev0 = provider.irls_poisson(np.zeros(p), b0_null)
    nulldev = float(dev0)
    grad_null = (swxz - b0_null * swx) / n
    pf, lo, hi = _penalty_options(p, x_std, penalty_factor, exclude, lower_limits, upper_limits)
    lambda_max = _lambda_max_scaled(np.abs(grad_null), alpha, pf)
    lam_path = _lambda_path(lambda_max, nlambda, lambda_min_ratio, lambdas)

    relax_cache: dict = {}

    def _relax_refit(coef_pen: np.ndarray, b0_pen: float):
        # as in binomial_path, with the deviance passed through as stat
        return _relax_refit_cached(
            relax_cache, provider.irls_poisson, coef_pen, b0_pen,
            p=p, n=n, intercept=intercept, thresh=thresh, maxit=maxit,
            outer_maxit=outer_maxit, lo=lo, hi=hi, stat0=nulldev,
        )

    do_screen = (
        ((screen is True) or (screen == "auto" and p > 100))
        and alpha > 0
        and lo is None and hi is None
    )
    return _irls_path_loop(
        "poisson", provider.irls_poisson, provider.grad_poisson,
        loss_of=lambda dev: dev / (2.0 * n),
        devr_of=lambda dev: 1.0 - dev / nulldev,
        p=p, n=n, lam_path=lam_path, lambda_max=lambda_max, alpha=alpha,
        pf=pf, lo=lo, hi=hi, intercept=intercept, thresh=thresh,
        maxit=maxit, outer_maxit=outer_maxit, do_screen=do_screen,
        auto_path=_auto_path(lambdas, alpha, pf), b0_null=b0_null, stat_null=nulldev,
        nulldev=nulldev, first_point_loss=nulldev / (2.0 * n),
        prev_stats=(sw, swx, swxx, swxz, swz), x_mean=x_mean, x_std=x_std,
        relax=relax, relax_refit=_relax_refit, provider=provider,
    )


def multinomial_path(
    provider,
    alpha: float,
    nlambda: int = 100,
    lambda_min_ratio: float = 1e-4,
    lambdas=None,
    standardize: bool = True,
    intercept: bool = True,
    thresh: float = 1e-7,
    maxit: int = 1000,
    outer_maxit: int = 20,
    mom=None,
    penalty_factor=None,
    exclude=None,
) -> PathResult:
    """Softmax regression path; y arrives one-hot (n, k)."""
    mom = mom or provider.moments()
    n = mom.n
    k = len(mom.sum_y)
    x_mean, x_std = _standardization(mom, standardize, intercept)
    B = _xty(mom, x_std, intercept)  # B[:, c] = <x~, y_c - pbar_c>/n
    provider.set_standardization(x_mean, 1.0 / x_std)

    pri = mom.y_mean  # class priors
    p = B.shape[0]
    pf, _, _ = _penalty_options(p, x_std, penalty_factor, exclude)
    if not getattr(provider, "has_offset", False):
        b0s, ll_null = _multinomial_null(mom, intercept)
        lambda_max = _lambda_max_scaled(np.max(np.abs(B), axis=1), alpha, pf)
    else:
        # n×k offset: the null intercepts have no closed form. The
        # balancing fixed point b0_c += log(ȳ_c / P̄_c) (each step is one
        # gradient pass; P̄ comes back as colmeans(P-Y)+ȳ) drives the
        # intercept-only score ΣP_c - Σy_c to zero; lambda_max and
        # nulldev then read off the SAME final gradient pass.
        b0s, ll_null, g0 = _multinomial_null_offset(provider, pri, k, p, intercept)
        lambda_max = _lambda_max_scaled(np.max(np.abs(g0), axis=0), alpha, pf)
    nulldev = -2.0 * ll_null
    lam_path = _lambda_path(lambda_max, nlambda, lambda_min_ratio, lambdas)

    coefs = np.zeros((k, p))
    out = _PathOutput("multinomial", lam_path, k, x_mean, x_std, intercept)
    auto_path = _auto_path(lambdas, alpha, pf)
    prev_sol: list[tuple[float, np.ndarray, np.ndarray]] = []
    for i, lam in enumerate(lam_path):
        if auto_path and i == 0:
            out.record(i, coefs, b0s, 0.0)
            continue
        # secant warm-start along the path (see binomial_path)
        if len(prev_sol) >= 2:
            (l1, c1, i1), (l2, c2, i2) = prev_sol[-2], prev_sol[-1]
            if l1 != l2:
                r = (lam - l2) / (l2 - l1)
                coefs = c2 + r * (c2 - c1)
                b0s = i2 + r * (i2 - i1)
        # NOTE: the binomial-style prox-Newton warm start on stale
        # quadratics measurably HURTS here (block-diagonal class
        # quadratics overshoot when cross-class terms are frozen), so
        # multinomial keeps the secant start only.
        ll = ll_null
        for _ in range(outer_maxit):
            # ONE data pass yields every class's quadratic (block-diagonal
            # Newton) — k times fewer passes than per-class cycling, same
            # fixed point.
            stats, ll = provider.irls_multinomial_all(coefs, b0s)
            max_delta = 0.0
            max_scale = 1e-12
            for c in range(k):
                sw, swx, swxx, swxz, swz = stats[c]
                new_coef, new_b0, _ = wls_enet_cd(
                    sw, swx, swxx, swxz, swz, n, lam, alpha, coefs[c], float(b0s[c]),
                    intercept, tol=thresh, maxit=maxit, pf=pf,
                )
                max_delta = max(max_delta, float(np.max(np.abs(new_coef - coefs[c]))), abs(new_b0 - b0s[c]))
                max_scale = max(max_scale, float(np.max(np.abs(new_coef))), abs(new_b0))
                coefs[c] = new_coef
                b0s[c] = new_b0
            if max_delta <= max(thresh, 1e-6) * max_scale:
                break
        prev_sol.append((float(lam), coefs.copy(), b0s.copy()))
        if len(prev_sol) > 2:
            prev_sol.pop(0)
        out.record(i, coefs, b0s, 1.0 - (-2.0 * ll) / nulldev if nulldev > 0 else 0.0)
    return out.result(nulldev, provider)
