"""Output checks. Each returns a list of problems; an empty list passes.

They work on the numpy copy of the generated data, never on anything the
measured program computed about that data, so a wrong answer cannot
vouch for itself.

Tolerances:

- KKT: the elastic-net optimality conditions on the standardized scale,
  scaled by lambda_max. The library stops coordinate descent at a
  relative coefficient change of 1e-6 (gaussian) and the IRLS outer loop
  at its deviance tolerance, so a violation of 1e-3 * lambda_max is two
  orders above solver noise and well below any real error.
- dev_ratio along a path may only grow (warm-started path, shrinking
  lambda); 1e-6 absolute slack covers IRLS stopping noise.
- predict and score are closed-form given the coefficients: relative
  1e-9.
- Spark against local fits: the two strategies compute the same
  sufficient statistics in a different summation order, then run the
  same solver, so they agree to 1e-4 relative in coefficients and
  lambdas, far inside the statistical noise of the fit.
"""

from __future__ import annotations

import numpy as np

KKT_TOL = 1e-3
DEV_SLACK = 1e-6
CLOSED_FORM_RTOL = 1e-9
STRATEGY_RTOL = 1e-4


def _standardize(x: np.ndarray):
    std = x.std(axis=0)
    return (x - x.mean(axis=0)) / std, std


def _kkt_violation(grad: np.ndarray, beta_std: np.ndarray, lam: float, alpha: float) -> float:
    grad = grad + lam * (1 - alpha) * beta_std
    l1 = lam * alpha
    active = beta_std != 0.0
    v_act = np.abs(grad + l1 * np.sign(beta_std))[active]
    v_in = np.maximum(np.abs(grad) - l1, 0.0)[~active]
    return float(max(v_act.max(initial=0.0), v_in.max(initial=0.0)))


def kkt(fit, x: np.ndarray, y: np.ndarray) -> list[str]:
    """KKT conditions at every lambda of a gaussian or binomial path."""
    xs, std = _standardize(x)
    n = len(y)
    problems = []
    lam_max = float(np.max(np.abs(xs.T @ (y - y.mean())) / n)) / fit.alpha
    worst = 0.0
    for i, lam in enumerate(fit.lambdas):
        beta_std = fit.beta[:, i] * std
        eta = fit.a0[i] + x @ fit.beta[:, i]
        if fit.family == "gaussian":
            resid = eta - y
        else:
            resid = 1.0 / (1.0 + np.exp(-eta)) - y
        grad = xs.T @ resid / n
        viol = _kkt_violation(grad, beta_std, float(lam), fit.alpha) / lam_max
        if fit.intercept:
            viol = max(viol, abs(float(resid.mean())) / lam_max)
        worst = max(worst, viol)
    if not np.isfinite(worst) or worst > KKT_TOL:
        problems.append(f"{fit.family} KKT violation {worst:.3g} x lambda_max > {KKT_TOL}")
    return problems


def dev_ratio_monotone(fit) -> list[str]:
    d = np.asarray(fit.dev_ratio, dtype=float)
    if not np.all(np.isfinite(d)):
        return [f"{fit.family} dev_ratio not finite"]
    drop = float(np.max(d[:-1] - d[1:], initial=0.0))
    if drop > DEV_SLACK:
        return [f"{fit.family} dev_ratio decreases by {drop:.3g} along the path"]
    return []


def close(name: str, got, want, rtol: float) -> list[str]:
    got = np.asarray(got, dtype=float)
    want = np.asarray(want, dtype=float)
    if got.shape != want.shape:
        return [f"{name}: shape {got.shape} != {want.shape}"]
    scale = max(float(np.max(np.abs(want), initial=0.0)), 1.0)
    err = float(np.max(np.abs(got - want), initial=0.0)) / scale
    if not np.isfinite(err) or err > rtol:
        return [f"{name}: relative error {err:.3g} > {rtol}"]
    return []


def fits_match(name: str, got, ref) -> list[str]:
    """A fit from one strategy against the same fit from another."""
    return (close(f"{name} lambdas", got.lambdas, ref.lambdas, STRATEGY_RTOL)
            + close(f"{name} coefficients", got.coef(), ref.coef(), STRATEGY_RTOL))


def cv_sane(cv) -> list[str]:
    cvm = np.asarray([row["mean"] for row in cv.cv_summary], dtype=float)
    lams = np.asarray(cv.lambdas[0], dtype=float)
    problems = []
    if len(cvm) != len(lams) or not np.all(np.isfinite(cvm)) or np.any(cvm < 0):
        problems.append("cv: curve not finite and non-negative over the path")
    elif not np.isclose(cv.lambda_min, lams[int(np.argmin(cvm))]):
        problems.append("cv: lambda_min is not the minimiser of the curve")
    elif cv.lambda_1se < cv.lambda_min:
        problems.append("cv: lambda_1se below lambda_min")
    return problems
