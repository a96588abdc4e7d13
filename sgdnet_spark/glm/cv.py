"""k-fold cross-validation — reference R/cv_sgdnet.R.

Folds are assigned with a deterministic content hash (xxhash64 of the
row, mod k) so results are reproducible and independent of partitioning
— the distributed stand-in for the reference's ``sample()`` foldid.

For the Gram-solved families (gaussian/mgaussian) with a moment-
expressible measure (mse/deviance), the WHOLE cross-validation is ONE
grouped data pass: per-fold raw moments via groupBy(foldid), each
fold's training moments by subtraction from the total, every (alpha,
fold, lambda) fit solved from those p²-sized statistics on the driver,
and the held-out mse evaluated from the fold's own moments — data
passes drop from (nfolds+1)·nalpha to 1, with identical results.
Other families/measures run the generic per-(alpha, fold) path fit over
a filtered DataFrame (still aggregate-pass solvers; folds never
materialize).
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sgdnet_spark.glm import path as path_mod
from sgdnet_spark.glm.score import score
from sgdnet_spark.glm.sgdnet import SgdnetFit, sgdnet
from sgdnet_spark.glm.suffstats import Moments, moments_kernel, xcols, ycols

FOLD_COL = "__fold"


@dataclass
class CvSgdnetFit:
    """Reference cv_sgdnet return: alpha, lambda (per alpha), cv_summary
    (alpha, lambda, mean, sd, ci_lo, ci_up), cv_raw, name, fit (best-alpha
    full-data fit), alpha_min, lambda_min, lambda_1se."""

    alphas: list[float]
    lambdas: list[np.ndarray]
    cv_summary: list[dict]
    cv_raw: list[np.ndarray]
    name: str
    fit: SgdnetFit
    alpha_min: float
    lambda_min: float
    lambda_1se: float
    # relax=True extras (glmnet cv.glmnet(relax=TRUE)): the winning blend
    # and the per-(alpha, gamma) curve minima that chose it
    gamma_min: float | None = None
    cv_gamma: list | None = None

    def summary_frame(self, spark) -> DataFrame:
        return spark.createDataFrame(
            self.cv_summary,
            schema="alpha double, lambda double, mean double, sd double, ci_lo double, ci_up double",
        )

    def _resolve_s(self, s):
        # reference predict.cv_sgdnet.R:46-53: s = c("lambda_1se",
        # "lambda_min") — match.arg picks the FIRST entry, so the
        # DEFAULT selector is lambda_1se (the most-regularized model
        # within one SE of the CV minimum); numeric s passes through
        if s == "lambda_1se" or s is None:
            return self.lambda_1se
        if s == "lambda_min":
            return self.lambda_min
        return s

    def predict(self, newx: DataFrame, s="lambda_1se", **kw) -> DataFrame:
        """reference predict.cv_sgdnet.R: s may be 'lambda_min'/'lambda_1se'
        (default lambda_1se, matching match.arg on c("lambda_1se",
        "lambda_min")) or a numeric lambda; delegates to the full-data
        fit's predict (stats::predict(object$fit, ...)), so type=/exact=
        pass through. A relax CV applies its selected gamma blend unless
        overridden."""
        if self.gamma_min is not None and self.fit.beta_relaxed is not None:
            kw.setdefault("gamma", self.gamma_min)
        return self.fit.predict(newx, s=self._resolve_s(s), **kw)

    def coef(self, s="lambda_1se", gamma: float | None = None):
        """Coefficients at the selected (or given) path point. A relax CV
        applies its selected gamma blend by default so coef() and
        predict() describe the SAME model; pass gamma explicitly to
        override (gamma=1.0 recovers the penalized coefficients)."""
        if gamma is None and self.gamma_min is not None and self.fit.beta_relaxed is not None:
            gamma = self.gamma_min
        return self.fit.coef(self._resolve_s(s), gamma=gamma)

    def deviance(self) -> np.ndarray:
        """reference deviance.sgdnet.R: deviance.cv_sgdnet is a simple
        wrapper calling deviance.sgdnet on the full-data fit —
        (1 - dev.ratio) * nulldev along the retained path."""
        return self.fit.deviance()

    def __repr__(self) -> str:
        return (
            f"cv_sgdnet: measure={self.name} alphas={self.alphas} "
            f"alpha_min={self.alpha_min} lambda_min={self.lambda_min:.6g} "
            f"lambda_1se={self.lambda_1se:.6g}"
        )


MEASURE_NAMES = {
    "deviance": "Deviance",
    "mse": "Mean-Squared Error",
    "mae": "Mean Absolute Error",
    "class": "Misclassification Error",
    "auc": "AUC",
}


def _fold_moments(
    df: DataFrame, feature_cols: Sequence[str], label_cols: Sequence[str], foldid_col: str
) -> dict[int, Moments]:
    """ONE grouped pass -> raw Moments per fold (mapInPandas partial
    outer-products keyed by fold, map-side combined; the shuffle carries
    nfolds × O(p²) doubles, independent of n)."""
    p, k = len(feature_cols), len(label_cols)
    sel = [F.col(c).cast("double").alias(f"x{i}") for i, c in enumerate(feature_cols)]
    sel += [F.col(c).cast("double").alias(f"y{i}") for i, c in enumerate(label_cols)]
    sel.append(F.col(foldid_col).cast("long").alias("__fold"))
    xy = df.select(*sel)
    xc, yc = xcols(p), ycols(k)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        accs: dict[int, np.ndarray] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            folds = pdf["__fold"].to_numpy()
            x = pdf[xc].to_numpy(dtype=np.float64)
            y = pdf[yc].to_numpy(dtype=np.float64)
            for fv in np.unique(folds):
                m = folds == fv
                part = moments_kernel(x[m], y[m], None, None)
                key = int(fv)
                accs[key] = part if key not in accs else accs[key] + part
        for key, acc in accs.items():
            yield pd.DataFrame({"fold": [key], "partial": [acc.tolist()]})

    rows = xy.mapInPandas(run, schema="fold long, partial array<double>").collect()
    if not rows:
        raise ValueError("empty input: no rows to aggregate")
    packed: dict[int, np.ndarray] = {}
    for r in rows:
        part = np.asarray(r["partial"])
        packed[r["fold"]] = part if r["fold"] not in packed else packed[r["fold"]] + part
    return {fold: Moments.unpack(v, p, k) for fold, v in packed.items()}


def _mom_mse(mom: Moments, a0: np.ndarray, beta: np.ndarray) -> float:
    """Held-out mean squared error straight from raw moments:
    (1/n) Σ_c Σ_rows (y_c - a0_c - x'β_c)² — no scoring pass needed.

    a0: (k,), beta: (p, k) on the ORIGINAL data scale.
    """
    k = len(mom.sum_y)
    total = 0.0
    for c in range(k):
        b = beta[:, c]
        a = float(a0[c])
        total += (
            float(mom.sum_yy[c])
            - 2.0 * a * float(mom.sum_y[c])
            - 2.0 * float(b @ mom.sum_xy[:, c])
            + 2.0 * a * float(b @ mom.sum_x)
            + float(b @ mom.sum_xx @ b)
            + mom.n * a * a
        )
    return total / mom.n


class _MomProvider:
    """Provider shim for path drivers that already hold the Moments."""

    passes = 0


def _cv_gram_fast(
    feature_cols: Sequence[str],
    label_cols: Sequence[str],
    family: str,
    alphas: list[float],
    lambdas,
    fold_moms: dict[int, Moments],
    fit_kwargs: dict,
) -> tuple[list[SgdnetFit], list[np.ndarray], list[np.ndarray]]:
    """All (alpha × fold × lambda) ridge/lasso fits + held-out mse from
    the per-fold moments — zero additional data passes."""
    folds = sorted(fold_moms)
    total = functools.reduce(operator.add, (fold_moms[g] for g in folds))
    p = len(feature_cols)
    kw = dict(fit_kwargs)
    kw.setdefault("lambda_min_ratio", 0.01 if total.n < p else 1e-4)
    # same effective tolerance sgdnet() hands the gaussian drivers
    kw["thresh"] = min(kw.get("thresh", 1e-3), 1e-6)
    driver = path_mod.gaussian_path if family == "gaussian" else path_mod.mgaussian_path

    full_fits: list[SgdnetFit] = []
    lam_lists: list[np.ndarray] = []
    cv_raw: list[np.ndarray] = []
    for a in alphas:
        res = driver(_MomProvider(), alpha=a, lambdas=lambdas, mom=total, **kw)
        lam_lists.append(res.lambdas)
        full_fits.append(
            SgdnetFit(
                family=family, alpha=a, lambdas=res.lambdas, a0=res.a0, beta=res.beta,
                df=res.df, dev_ratio=res.dev_ratio, nulldev=res.nulldev,
                npasses=res.npasses, nobs=total.n, feature_names=list(feature_cols),
                response_names=list(label_cols) if family == "mgaussian" else None,
                dfmat=res.dfmat,
                intercept=kw.get("intercept", True), standardize=kw.get("standardize", True),
            )
        )
        raw = np.full((len(folds), len(res.lambdas)), np.nan)
        for j, g in enumerate(folds):
            train = total - fold_moms[g]
            res_g = driver(_MomProvider(), alpha=a, lambdas=res.lambdas, mom=train, **kw)
            test = fold_moms[g]
            for i in range(len(res_g.lambdas)):
                if family == "gaussian":
                    a0 = np.array([res_g.a0[i]])
                    beta = res_g.beta[:, i][:, None]
                else:
                    a0 = res_g.a0[:, i]
                    beta = res_g.beta[:, :, i].T  # (k,p,nl) -> (p,k)
                raw[j, i] = _mom_mse(test, a0, beta)
        cv_raw.append(raw)
    return full_fits, lam_lists, cv_raw


def _blend_fit(fit: SgdnetFit, gamma: float) -> SgdnetFit:
    """View of a relax fit with coefficients blended at gamma (glmnet:
    gamma=1 penalized, gamma=0 fully relaxed) — score()/predict() then
    evaluate the blend through the unchanged code path."""
    from dataclasses import replace

    if gamma >= 1.0 or fit.beta_relaxed is None:
        return fit
    return replace(
        fit,
        a0=gamma * fit.a0 + (1.0 - gamma) * fit.a0_relaxed,
        beta=gamma * fit.beta + (1.0 - gamma) * fit.beta_relaxed,
        a0_relaxed=None, beta_relaxed=None, dev_ratio_relaxed=None,
    )


def _gamma_mse_fold(fit_j, test, cols, lams, gammas, label_col,
                    weights_col=None, offset_col=None):
    """Held-out mse for EVERY gamma blend from ONE aggregation pass.

    The blended residual is affine in gamma — with d_a = eta_pen - y and
    d_b = eta_relax - y, mse(g) = g²·E[d_a²] + (1-g)²·E[d_b²] +
    2g(1-g)·E[d_a·d_b] — so three second moments per lambda evaluate the
    whole gamma grid driver-side instead of one scoring pass per gamma.
    """
    from sgdnet_spark.glm.score import eta_expr

    cf_p = fit_j.coef(lams)
    cf_r = fit_j.coef(lams, gamma=0.0)
    nl = cf_p.shape[-1]
    y = F.col(label_col).cast("double")
    if weights_col is None:
        _mean = F.avg
    else:
        wcol = F.col(weights_col).cast("double")

        def _mean(t):
            return F.sum(wcol * t) / F.sum(wcol)

    aggs = []
    for i in range(nl):
        da = eta_expr(cf_p[:, i], cols, offset_col) - y
        db = eta_expr(cf_r[:, i], cols, offset_col) - y
        aggs += [
            _mean(da * da).alias(f"aa{i}"),
            _mean(db * db).alias(f"bb{i}"),
            _mean(da * db).alias(f"ab{i}"),
        ]
    row = test.agg(*aggs).first()
    return {
        g: np.array([
            g * g * row[f"aa{i}"]
            + (1.0 - g) ** 2 * row[f"bb{i}"]
            + 2.0 * g * (1.0 - g) * row[f"ab{i}"]
            for i in range(nl)
        ])
        for g in gammas
    }


def _summarize_cv_gamma(
    alphas: list[float],
    lam_lists: list[np.ndarray],
    cv_raw_gamma: list[dict],
    gammas: list[float],
    full_fits: list,
    type_measure: str,
    family: str,
) -> "CvSgdnetFit":
    """Joint (alpha, gamma, lambda) selection for relax CV: the standard
    summary/optima come from the winning gamma's curves; cv_gamma records
    each (alpha, gamma) curve's minimum so the selection is auditable."""
    cv_gamma: list[dict] = []
    best: tuple[float, float] | None = None  # (error, gamma)
    for g in gammas:
        for a, lams, d in zip(alphas, lam_lists, cv_raw_gamma):
            raw = d[g]
            mean = np.nanmean(raw, axis=0)
            sd = np.nanstd(raw, axis=0, ddof=1)
            crit = -mean if type_measure == "auc" else mean
            imin = int(np.argmin(crit))
            cv_gamma.append(
                dict(alpha=a, gamma=g, **{"lambda": float(lams[imin])},
                     mean=float(mean[imin]), sd=float(sd[imin]))
            )
            if best is None or float(crit[imin]) < best[0]:
                best = (float(crit[imin]), g)
    g_best = best[1]
    out = summarize_cv(
        alphas, lam_lists, [d[g_best] for d in cv_raw_gamma], full_fits,
        type_measure, family,
    )
    out.gamma_min = g_best
    out.cv_gamma = cv_gamma
    return out


def cv_sgdnet(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str | Sequence[str],
    family: str = "gaussian",
    alpha: float | Sequence[float] = 1.0,
    lambdas=None,
    nfolds: int = 10,
    foldid_col: str | None = None,
    type_measure: str = "deviance",
    seed: int = 42,
    use_fold_moments: bool = True,
    relax: bool = False,
    gammas: Sequence[float] = (0.0, 0.25, 0.5, 0.75, 1.0),
    **fit_kwargs,
) -> CvSgdnetFit:
    if nfolds <= 2:
        raise ValueError("nfolds must be greater than 2")
    alphas = [float(a) for a in (alpha if isinstance(alpha, (list, tuple, np.ndarray)) else [alpha])]
    if relax:
        # glmnet cv.glmnet(relax=TRUE): every fold fit carries the relaxed
        # companion path, and the held-out measure is evaluated at each
        # gamma blend so (alpha, gamma, lambda) are selected jointly
        fit_kwargs = dict(fit_kwargs, relax=True)
        gammas = [float(g) for g in gammas]
        if any(not 0.0 <= g <= 1.0 for g in gammas):
            raise ValueError("gammas must lie in [0, 1]")
    else:
        gammas = [1.0]

    if foldid_col is None:
        fold_expr = F.pmod(
            F.xxhash64(F.struct(*[F.col(c) for c in df.columns]), F.lit(seed)), F.lit(nfolds)
        ).cast("int")
        df = df.withColumn(FOLD_COL, fold_expr)
        foldid_col = FOLD_COL

    # Gram-family fast path: the entire CV from ONE grouped moments pass.
    # Differential penalties ride along (the Gram drivers take them);
    # box limits only exist on the gaussian driver.
    _fast_ok = {
        "nlambda", "lambda_min_ratio", "standardize", "intercept",
        "thresh", "maxit", "standardize_response",
        "penalty_factor", "exclude",
    }
    if family == "gaussian":
        _fast_ok |= {"lower_limits", "upper_limits"}
    fast = (
        use_fold_moments
        and family in ("gaussian", "mgaussian")
        and type_measure in ("deviance", "mse")
        and not isinstance(feature_cols, str)
        and set(fit_kwargs) <= _fast_ok
    )
    if fast:
        label_cols = [label_col] if isinstance(label_col, str) else list(label_col)
        kw = dict(fit_kwargs)
        if family == "gaussian":
            kw.pop("standardize_response", None)
        fold_moms = _fold_moments(df, feature_cols, label_cols, foldid_col)
        full_fits, lam_lists, cv_raw = _cv_gram_fast(
            feature_cols, label_cols, family, alphas, lambdas, fold_moms, kw
        )
        nfolds = len(fold_moms)
    else:
        # weighted CV (glmnet cv.glmnet(weights=)): weights_col in
        # fit_kwargs reaches every fold fit via sgdnet(**fit_kwargs); the
        # held-out measure is weighted too where score() supports it.
        # offset_col likewise reaches both the fold fits and the held-out
        # scoring pass — an offset fit scored without its offset would be
        # silently wrong, and score() raises on that.
        oc = fit_kwargs.get("offset_col")
        wc = fit_kwargs.get("weights_col")
        score_wc = wc
        if wc is not None and (
            family in ("multinomial", "mgaussian")
            or (family == "binomial" and type_measure == "auc")
        ):
            import warnings

            warnings.warn(
                f"weights are applied to the fold fits but the "
                f"(family={family}, type.measure={type_measure}) CV measure "
                "is computed unweighted",
                stacklevel=2,
            )
            score_wc = None
        df = df.persist()
        try:
            folds = [r[0] for r in df.select(foldid_col).distinct().collect()]
            nfolds = len(folds)

            # full-data fit per alpha defines each path's lambdas
            full_fits = [
                sgdnet(df, feature_cols, label_col, family=family, alpha=a, lambdas=lambdas, **fit_kwargs)
                for a in alphas
            ]
            lam_lists = [f.lambdas for f in full_fits]

            cv_raw = []
            cv_raw_gamma: list[dict] = []  # per alpha: gamma -> (nfolds, nlam)
            for a, lams in zip(alphas, lam_lists):
                raws = {g: np.full((nfolds, len(lams)), np.nan) for g in gammas}
                for j, fold in enumerate(sorted(folds)):
                    train = df.filter(F.col(foldid_col) != fold)
                    test = df.filter(F.col(foldid_col) == fold)
                    fit_j = sgdnet(
                        train, feature_cols, label_col, family=family, alpha=a,
                        lambdas=lams, **fit_kwargs,
                    )
                    if (
                        relax
                        and family == "gaussian"
                        and type_measure in ("deviance", "mse")
                        and len(gammas) > 1
                    ):
                        # every gamma from ONE pass (the blended residual
                        # is affine in gamma; see _gamma_mse_fold)
                        cols = (
                            fit_j.feature_names
                            if isinstance(feature_cols, str)
                            else list(feature_cols)
                        )
                        per_g = _gamma_mse_fold(
                            fit_j, test, cols, lams, gammas, label_col,
                            weights_col=score_wc, offset_col=oc,
                        )
                        for g in gammas:
                            raws[g][j, :] = per_g[g]
                    else:
                        for g in gammas:
                            raws[g][j, :] = score(
                                _blend_fit(fit_j, g), test, feature_cols, label_col,
                                type_measure, s=lams, weights_col=score_wc, offset_col=oc,
                            )
                if not relax:
                    cv_raw.append(raws[gammas[-1]])
                cv_raw_gamma.append(raws)
            if relax:
                # also when ONE gamma was requested: lambda selection came
                # from that blend's held-out scores, and gamma_min must
                # record it so coef()/predict() use the evaluated model
                return _summarize_cv_gamma(
                    alphas, lam_lists, cv_raw_gamma, gammas, full_fits,
                    type_measure, family,
                )
        finally:
            df.unpersist()

    return summarize_cv(alphas, lam_lists, cv_raw, full_fits, type_measure, family)


def summarize_cv(
    alphas: list[float],
    lam_lists: list[np.ndarray],
    cv_raw: list[np.ndarray],
    full_fits: list[SgdnetFit],
    type_measure: str,
    family: str,
) -> CvSgdnetFit:
    """cv_summary / lambda_min / lambda_1se / best-alpha selection from
    per-(alpha, fold, lambda) raw scores — shared by the dense, the
    fold-moment, and the sparse CV drivers (reference cv_sgdnet.R:250)."""
    cv_summary: list[dict] = []
    optima = []
    for a, lams, raw in zip(alphas, lam_lists, cv_raw):
        mean = np.nanmean(raw, axis=0)
        sd = np.nanstd(raw, axis=0, ddof=1)
        for i, lam in enumerate(lams):
            cv_summary.append(
                dict(alpha=a, **{"lambda": float(lam)}, mean=float(mean[i]), sd=float(sd[i]),
                     ci_lo=float(mean[i] - sd[i]), ci_up=float(mean[i] + sd[i]))
            )
        crit = -mean if type_measure == "auc" else mean
        imin = int(np.argmin(crit))
        within = crit <= crit[imin] + sd[imin]
        optima.append(
            dict(alpha=a, lambda_min=float(lams[imin]), lambda_1se=float(np.max(lams[within])),
                 error=float(crit[imin]))
        )

    best = int(np.argmin([o["error"] for o in optima]))
    name = MEASURE_NAMES[type_measure]
    if type_measure == "deviance":
        name = {
            "gaussian": "Mean-Squared Error",
            "mgaussian": "Mean-Squared Error",
            "binomial": "Binomial Deviance",
            "multinomial": "Multinomial Deviance",
            "poisson": "Poisson Deviance",
        }[family]

    return CvSgdnetFit(
        alphas=alphas,
        lambdas=list(lam_lists),
        cv_summary=cv_summary,
        cv_raw=cv_raw,
        name=name,
        fit=full_fits[best],
        alpha_min=optima[best]["alpha"],
        lambda_min=optima[best]["lambda_min"],
        lambda_1se=optima[best]["lambda_1se"],
    )
