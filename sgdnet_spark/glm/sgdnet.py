"""Public fit API — the PySpark counterpart of the reference's sgdnet().

Reference surface: R/sgdnet.R (sgdnet.default), R/predict.sgdnet.R,
R/score.R, R/deviance.sgdnet.R. Families: gaussian, binomial,
multinomial, mgaussian; elastic-net mixing ``alpha``; automatic
log-spaced lambda path with warm starts; standardization on by default.

Execution: features are assembled into an ``array<double>`` column
JVM-side; solvers consume p-sized distributed aggregates (SURVEY.md §3).
When n*p fits comfortably on the driver we collect once and run the
identical numpy provider (``solver='auto'``) — same statistics, fewer
job launches.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sgdnet_spark.glm import path as path_mod
from sgdnet_spark.glm import suffstats
from sgdnet_spark.glm.providers import LocalXY, SparkXY
from sgdnet_spark.glm.score import path_etas, prediction_columns

FAMILIES = ("gaussian", "binomial", "multinomial", "mgaussian", "poisson")


def colref(name: str) -> F.Column:
    """Column reference that understands the 'arr[i]' names produced by
    array-column feature expansion."""
    if name.endswith("]") and "[" in name:
        base, idx = name[:-1].rsplit("[", 1)
        return F.col(base)[int(idx)]
    return F.col(name)


@dataclass
class SgdnetFit:
    """Fitted path. Mirrors the reference's sgdnet object fields

    (R/sgdnet.R:412): a0, beta, lambda, dev.ratio, df, nulldev, npasses,
    alpha, classnames, nobs (+ dfmat for multivariate families).
    """

    family: str
    alpha: float
    lambdas: np.ndarray
    a0: np.ndarray                # (nl,) or (k, nl)
    beta: np.ndarray              # (p, nl) or (k, p, nl)
    df: np.ndarray
    dev_ratio: np.ndarray
    nulldev: float
    npasses: int
    nobs: int
    feature_names: list[str]
    classnames: list | None = None
    response_names: list[str] | None = None
    dfmat: np.ndarray | None = None
    intercept: bool = True
    standardize: bool = True
    offset: bool = False  # True when fit with offset_col (predict then needs newoffset)
    grouped: bool = False  # True when fit with type_multinomial='grouped' (reference sgdnet.R:155 `grouped`)
    # relaxed (debiased) companion path, glmnet relax=TRUE: unpenalized
    # refit on each lambda's active set; coef()/predict() blend with gamma
    a0_relaxed: np.ndarray | None = None
    beta_relaxed: np.ndarray | None = None
    dev_ratio_relaxed: np.ndarray | None = None
    _train: dict | None = None  # inputs retained for exact refits (update())
    diagnostics: dict | None = None  # {'loss': [...]} as reference sgdnet.debug

    # ---- coefficient access -------------------------------------------------

    @property
    def nlambda(self) -> int:
        return len(self.lambdas)

    def _interp(self, s) -> tuple[np.ndarray, np.ndarray]:
        """lambda interpolation weights, as reference
        R/predict.sgdnet.R:144 (lambda_interpolate)."""
        s = np.atleast_1d(np.asarray(s, dtype=float))
        if np.any(s < 0):
            raise ValueError("s (lambda penalty) cannot be negative")
        lam = self.lambdas
        if len(lam) == 1:
            left = right = np.zeros(len(s), dtype=int)
            frac = np.ones(len(s))
            return np.stack([left, right]), frac
        s = np.clip(s, lam.min(), lam.max())
        # lam is descending
        right = np.searchsorted(-lam, -s, side="left")
        right = np.clip(right, 1, len(lam) - 1)
        left = right - 1
        denom = lam[left] - lam[right]
        frac = np.where(denom > 0, (s - lam[right]) / np.where(denom > 0, denom, 1.0), 1.0)
        return np.stack([left, right]), frac

    def _full_coef(self, relaxed: bool = False) -> np.ndarray:
        a0 = self.a0_relaxed if relaxed else self.a0
        beta = self.beta_relaxed if relaxed else self.beta
        if self.family in ("gaussian", "binomial", "poisson"):
            return np.vstack([a0[None, :], beta])  # (p+1, nl)
        return np.concatenate([a0[:, None, :], beta], axis=1)  # (k, p+1, nl)

    def coef(self, s=None, gamma: float | None = None) -> np.ndarray:
        """Coefficient matrix with intercept row(s) first; interpolated at s.

        ``gamma`` blends the penalized path with its relaxed (debiased)
        companion — glmnet relax=TRUE semantics: gamma=1 is the original
        penalized fit, gamma=0 the unpenalized refit on each lambda's
        active set. Requires a fit made with relax=True.
        """
        full = self._full_coef()
        if gamma is not None:
            if self.beta_relaxed is None:
                raise ValueError("gamma requires a fit made with relax=True")
            g = float(gamma)
            if not 0.0 <= g <= 1.0:
                raise ValueError("gamma must be in [0, 1]")
            full = g * full + (1.0 - g) * self._full_coef(relaxed=True)
        if s is None:
            return full
        (left, right), frac = self._interp(s)
        return full[..., left] * frac + full[..., right] * (1 - frac)

    # ---- prediction ---------------------------------------------------------

    def _check_cols(self, cols: Sequence[str] | None) -> list[str]:
        return list(cols) if cols is not None else self.feature_names

    def update(self, lambdas) -> "SgdnetFit":
        """Refit on the retained training data with a new lambda set
        (reference predict.sgdnet.R:180 refit / stats::update)."""
        if self._train is None:
            raise ValueError("fit was not created via sgdnet(); cannot refit")
        t = dict(self._train)
        return sgdnet(
            t.pop("df"), t.pop("feature_cols"), t.pop("label_col"),
            lambdas=sorted(set(float(x) for x in lambdas), reverse=True), **t,
        )

    def predict(
        self,
        newx: DataFrame,
        s=None,
        type: str = "link",
        feature_cols: Sequence[str] | None = None,
        prefix: str = "pred",
        exact: bool = False,
        newoffset: str | None = None,
        gamma: float | None = None,
    ) -> DataFrame:
        """Append prediction columns to ``newx`` (one per lambda requested).

        Built entirely from JVM column expressions — whole-stage-codegen'd,
        no Python UDF: the links come from ``score.path_etas`` and the
        heads from ``score.prediction_columns`` (the builders
        ``predict_sparse`` and ``score`` share), added in one projection.
        Types follow reference predict.sgdnet.R:105-118: link | response
        | class return DataFrames; coefficients | nonzero return the
        driver-side objects the reference returns (a coefficient matrix
        resp. index lists — no data pass involved).
        ``exact=True`` refits at off-path s instead of interpolating.
        ``newoffset`` names the offset column in ``newx`` — required when
        the fit used ``offset_col`` (reference predict.sgdnet.R:381) and
        added to every linear predictor. Multinomial offset fits take a
        sequence of k columns (one per class, sorted-class order), the
        n×k form.
        """
        # match.arg semantics (predict.sgdnet.R): an unknown type is an
        # error everywhere — previously the univariate branch silently
        # fell through to link predictions for a typo'd type string
        if type not in ("link", "response", "class", "coefficients", "nonzero"):
            raise ValueError(f"unknown predict type: {type!r}")
        if type == "class" and self.family not in ("binomial", "multinomial"):
            raise ValueError(
                f"type='class' is only defined for classification families, not {self.family!r}"
            )
        if type == "coefficients":
            return self.coef(s, gamma=gamma)
        if type == "nonzero":
            return self.nonzero(s)
        if self.offset and newoffset is None:
            raise ValueError("need 'newoffset' since offset was used in fit")
        if self.offset and self.family in ("multinomial", "mgaussian"):
            names = self.classnames if self.family == "multinomial" else self.response_names
            if isinstance(newoffset, str) or len(newoffset) != (len(names) if names else 0):
                raise ValueError(
                    f"{self.family} newoffset must be a sequence of one "
                    f"column per target {names}"
                )
        if (
            newoffset is not None
            and not isinstance(newoffset, str)
            and self.family not in ("multinomial", "mgaussian")
        ):
            raise ValueError(
                f"newoffset must be a single column name for family='{self.family}'"
            )
        if exact and s is not None:
            lam_set = set(np.atleast_1d(np.asarray(s, dtype=float)))
            if not lam_set <= set(self.lambdas):
                return self.update(sorted(lam_set | set(self.lambdas), reverse=True)).predict(
                    newx, s=s, type=type, feature_cols=feature_cols, prefix=prefix,
                    newoffset=newoffset, gamma=gamma,
                )
        cols = self._check_cols(feature_cols)
        cf = self.coef(s, gamma=gamma) if s is not None else self.coef(gamma=gamma)
        if self.family in ("multinomial", "mgaussian"):
            # one column per class/response, so one s per call
            if s is not None and np.atleast_1d(np.asarray(s, dtype=float)).size > 1:
                raise ValueError(
                    "multivariate predict needs a single s per call (got "
                    f"{np.atleast_1d(np.asarray(s, dtype=float)).size})"
                )
            if s is None and self.nlambda != 1:
                raise ValueError("multivariate predict needs a single s (or a 1-lambda fit)")
        # a single offset column is broadcast to every class (harmless
        # for softmax — it cancels); all columns in one projection
        etas = path_etas(cf, cols, newoffset)
        return newx.withColumns(prediction_columns(self, type, etas, prefix))

    def predict_np(self, x: np.ndarray, s=None, type: str = "link",
                   offset: np.ndarray | None = None) -> np.ndarray:
        """Driver-side numpy predict (used by score/CV internals).
        ``offset`` mirrors predict()'s ``newoffset``: required when the
        fit used offset_col, added to every linear predictor."""
        if self.offset and offset is None:
            raise ValueError("need 'offset' since offset was used in fit")
        x = np.asarray(x, dtype=np.float64)
        cf = self.coef(s)
        if self.family in ("gaussian", "binomial", "poisson"):
            eta = cf[0][None, :] + x @ cf[1:]  # (n, nl)
            if offset is not None:
                eta = eta + np.asarray(offset, dtype=np.float64).reshape(-1)[:, None]
            if type == "response" and self.family == "binomial":
                return 1.0 / (1.0 + np.exp(-eta))
            if type == "response" and self.family == "poisson":
                return np.exp(eta)
            if type == "class":
                cls = np.asarray(self.classnames or [0, 1])
                return cls[(eta > 0).astype(int)]
            return eta
        # (k, p+1, nl)
        eta = np.einsum("np,kpl->nkl", np.hstack([np.ones((len(x), 1)), x]), cf)
        if offset is not None:
            eta = eta + np.asarray(offset, dtype=np.float64)[:, :, None]  # (n, k)
        if type == "response" and self.family == "multinomial":
            m = eta.max(axis=1, keepdims=True)
            e = np.exp(eta - m)
            return e / e.sum(axis=1, keepdims=True)
        if type == "class":
            idx = eta.argmax(axis=1)
            cls = np.asarray(self.classnames or list(range(eta.shape[1])))
            return cls[idx]
        return eta

    def nonzero(self, s=None) -> list[list[int]]:
        """Indices of nonzero coefficients at each path step
        (reference predict.sgdnet.R:49 nonzero_coefs, bystep=TRUE)."""
        cf = self.coef(s)
        beta = cf[1:] if cf.ndim == 2 else cf[:, 1:, :]
        if beta.ndim == 2:
            return [list(np.nonzero(beta[:, i])[0]) for i in range(beta.shape[-1])]
        # multivariate: a variable counts if nonzero for ANY class/response
        anynz = np.any(beta != 0.0, axis=0)
        return [list(np.nonzero(anynz[:, i])[0]) for i in range(anynz.shape[-1])]

    def deviance(self) -> np.ndarray:
        """(1 - dev.ratio) * nulldev, reference deviance.sgdnet.R."""
        return (1.0 - self.dev_ratio) * self.nulldev

    def save(self, path: str) -> None:
        """Persist the fitted path (npz arrays + json metadata)."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        arrays = dict(
            lambdas=self.lambdas, a0=self.a0, beta=self.beta, df=self.df,
            dev_ratio=self.dev_ratio,
            dfmat=self.dfmat if self.dfmat is not None else np.zeros(0),
        )
        if self.beta_relaxed is not None:
            arrays.update(
                a0_relaxed=self.a0_relaxed, beta_relaxed=self.beta_relaxed,
                dev_ratio_relaxed=self.dev_ratio_relaxed,
            )
        np.savez(os.path.join(path, "arrays.npz"), **arrays)
        meta = dict(
            family=self.family, alpha=self.alpha, nulldev=self.nulldev,
            npasses=self.npasses, nobs=self.nobs, feature_names=self.feature_names,
            classnames=self.classnames, response_names=self.response_names,
            intercept=self.intercept, standardize=self.standardize,
            offset=self.offset, grouped=self.grouped,
            has_dfmat=self.dfmat is not None,
            has_relaxed=self.beta_relaxed is not None,
        )
        with open(os.path.join(path, "meta.json"), "w") as fh:
            json.dump(meta, fh)

    @staticmethod
    def load(path: str) -> "SgdnetFit":
        import json
        import os

        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        arr = np.load(os.path.join(path, "arrays.npz"))
        has_dfmat = meta.pop("has_dfmat")
        # fits saved before round 6 carry no has_relaxed key
        has_relaxed = meta.pop("has_relaxed", False)
        extra = {}
        if has_relaxed:
            extra = dict(
                a0_relaxed=arr["a0_relaxed"], beta_relaxed=arr["beta_relaxed"],
                dev_ratio_relaxed=arr["dev_ratio_relaxed"],
            )
        return SgdnetFit(
            lambdas=arr["lambdas"], a0=arr["a0"], beta=arr["beta"],
            df=arr["df"], dev_ratio=arr["dev_ratio"],
            dfmat=arr["dfmat"] if has_dfmat else None,
            **extra,
            **meta,
        )

    def __repr__(self) -> str:  # reference print.sgdnet.R: df / dev.ratio / lambda table
        head = f"sgdnet fit: family={self.family} alpha={self.alpha} nobs={self.nobs} npasses={self.npasses}"
        lines = [head, f"{'s':>4} {'df':>4} {'dev_ratio':>10} {'lambda':>12}"]
        idx = range(self.nlambda) if self.nlambda <= 10 else list(range(5)) + list(range(self.nlambda - 5, self.nlambda))
        for i in idx:
            lines.append(f"{i:>4} {self.df[i]:>4} {self.dev_ratio[i]:>10.4f} {self.lambdas[i]:>12.6g}")
        return "\n".join(lines)

    def path_frame(self, spark, coef_digits: int = 4) -> DataFrame:
        """Tidy long-format path summary (stand-in for reference
        plot.sgdnet): one row per (s, class, feature) with the fitted
        coefficient value, plus the intercept as feature
        ``(Intercept)``.

        Scalar columns only — external harnesses sort/hash cell values,
        so array-typed cells are forbidden here. Values are rounded
        (coef to ``coef_digits``, lambda/dev_ratio to 6) so the output
        is deterministic across runs, not just shape-stable."""
        if self.family == "multinomial":
            groups = [str(c) for c in (self.classnames or range(self.a0.shape[0]))]
        elif self.family == "mgaussian":
            groups = [str(c) for c in (self.response_names or range(self.a0.shape[0]))]
        elif self.family == "binomial":
            groups = [str(self.classnames[1]) if self.classnames else "y"]
        else:
            groups = ["y"]
        multi = self.family in ("multinomial", "mgaussian")
        feats = ["(Intercept)"] + list(self.feature_names)
        import pandas as pd

        cols = {k: [] for k in ("s", "lambda", "df", "dev_ratio", "class", "feature", "coef")}
        nf = len(feats)
        for i in range(self.nlambda):
            for c, cls in enumerate(groups):
                a0 = self.a0[c, i] if multi else self.a0[i]
                bvec = self.beta[c, :, i] if multi else self.beta[:, i]
                cols["s"] += [int(i)] * nf
                cols["lambda"] += [round(float(self.lambdas[i]), 6)] * nf
                cols["df"] += [int(self.df[i])] * nf
                cols["dev_ratio"] += [round(float(self.dev_ratio[i]), 6)] * nf
                cols["class"] += [cls] * nf
                cols["feature"] += feats
                # + 0.0 folds IEEE -0.0 to +0.0 (repr-level hash stability)
                cols["coef"] += [round(float(v), coef_digits) + 0.0 for v in (a0, *bvec)]
        # pandas in, Arrow out — orders of magnitude cheaper than a
        # row-at-a-time local relation for the wide (e.g. embedding) fits
        return spark.createDataFrame(
            pd.DataFrame(cols),
            schema="s int, lambda double, df int, dev_ratio double, "
                   "class string, feature string, coef double",
        )


def _prepare_labels(df: DataFrame, label_col: str | Sequence[str], family: str):
    """Returns (label_exprs, classnames, response_names)."""
    if family in ("gaussian", "poisson"):
        return [label_col] if isinstance(label_col, str) else list(label_col), None, None
    if family == "mgaussian":
        cols = [label_col] if isinstance(label_col, str) else list(label_col)
        if len(cols) < 2:
            raise ValueError("response for multivariate Gaussian regression must not be one-dimensional; try family = 'gaussian'")
        return cols, None, cols
    # classification: determine distinct classes (sorted, as R factor levels)
    assert isinstance(label_col, str)
    classes = [r[0] for r in df.select(label_col).distinct().orderBy(label_col).collect()]
    if any(c is None for c in classes):
        # NULL would otherwise become a phantom class whose one-hot
        # indicator is all-zero (NULL == literal is NULL -> otherwise(0)),
        # silently fitting garbage — same policy as NULL weights/offsets
        raise ValueError("NULL values in the response; classification labels must be non-null")
    if family == "binomial":
        _validate_classes(classes, family)
        expr = F.when(F.col(label_col) == F.lit(classes[1]), 1.0).otherwise(0.0)
        return [expr], classes, None
    if family == "multinomial":
        _validate_classes(classes, family)
        exprs = [F.when(F.col(label_col) == F.lit(c), 1.0).otherwise(0.0) for c in classes]
        return exprs, classes, None
    raise ValueError(f"unknown family: {family}")


def _validate_classes(classes, family: str):
    if family == "binomial":
        if len(classes) > 2:
            raise ValueError("more than two classes in response. Are you looking for family = 'multinomial'?")
        if len(classes) < 2:
            raise ValueError("only one class in response.")
    else:
        if len(classes) == 2:
            raise ValueError("only two classes in response. Are you looking for family = 'binomial'?")
        if len(classes) < 2:
            raise ValueError("only one class in response.")


def _local_classification(df, feature_exprs, label_col: str, family: str,
                          collect_max_cells: float, p: int,
                          weight_expr=None, offset_expr=None):
    """Single-collect driver fast path for binomial/multinomial.

    The standard path spends one scan finding the class labels
    (distinct), one on moments, and one collecting X — but when the
    data fits the driver budget anyway, ONE collect of (X, raw label)
    serves all three: classes, one-hot Y, and moments all come from
    numpy. Returns (provider, moments, classnames, k) or None when the
    data is too big (callers then keep the fully distributed path).
    """
    n = df.count()  # column-pruned; metadata-only on plain parquet scans
    if n == 0 or n * (p + 1) > collect_max_cells:
        return None
    cols = [
        (F.col(e) if isinstance(e, str) else e).cast("double").alias(f"x{i}")
        for i, e in enumerate(feature_exprs)
    ]
    extra = []
    if weight_expr is not None:
        extra.append(weight_expr.cast("double").alias("_w"))
    if offset_expr is not None:
        extra.append(offset_expr.cast("double").alias("_o"))
    pdf = df.select(*cols, F.col(label_col).alias("_label"), *extra).toPandas()
    labels = pdf["_label"]
    if labels.isna().any():
        # the distributed path rejects NULL labels (phantom class);
        # the fast path must not instead silently map them to class 0
        raise ValueError("NULL values in the response; classification labels must be non-null")
    # sorted() over the raw values matches the distributed path's
    # orderBy(label) (R factor-level order) for numeric and ASCII labels
    classes = sorted(labels.unique().tolist())
    _validate_classes(classes, family)
    k = 1 if family == "binomial" else len(classes)
    if n * (p + k) > collect_max_cells:
        return None
    x = pdf[[f"x{i}" for i in range(p)]].to_numpy(dtype=np.float64)
    lab = labels.to_numpy()
    if family == "binomial":
        y = (lab == classes[1]).astype(np.float64).reshape(-1, 1)
    else:
        y = np.empty((n, k), dtype=np.float64)
        for j, c in enumerate(classes):
            y[:, j] = lab == c
    w = pdf["_w"].to_numpy(dtype=np.float64) if weight_expr is not None else None
    o = pdf["_o"].to_numpy(dtype=np.float64) if offset_expr is not None else None
    provider = LocalXY(x, y, w=w, o=o)
    provider.passes = 1  # the collect itself
    mom = provider.moments()
    return provider, mom, classes, k


def sgdnet(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str | Sequence[str],
    family: str = "gaussian",
    alpha: float = 1.0,
    nlambda: int = 100,
    lambda_min_ratio: float | None = None,
    lambdas=None,
    maxit: int = 1000,
    standardize: bool = True,
    intercept: bool = True,
    thresh: float = 1e-3,
    standardize_response: bool = False,
    solver: str = "auto",
    collect_max_cells: float = 3e8,
    weights_col: str | None = None,
    offset_col: str | None = None,
    type_multinomial: str = "ungrouped",
    penalty_factor=None,
    exclude=None,
    lower_limits=None,
    upper_limits=None,
    relax: bool = False,
) -> SgdnetFit:
    """Fit an elastic-net GLM path on a Spark DataFrame.

    Defaults mirror reference R/sgdnet.R:183 (sgdnet.default): alpha=1,
    nlambda=100, lambda.min.ratio = 0.01 if n<p else 1e-4, maxit=1000,
    standardize=TRUE, intercept=TRUE, thresh=1e-3.

    Note: ``thresh`` is the reference's loose outer tolerance; the
    deterministic batch solvers here tighten it (gaussian/mgaussian/
    FISTA use min(thresh, 1e-6); iterative families floor it) and FISTA
    floors ``maxit`` at 100 — a per-lambda proximal iteration is far
    cheaper than a reference epoch, so the stricter settings keep the
    documented accuracy without the SAGA-era cost model.

    Extensions beyond the reference surface (R/sgdnet.R:341 leaves
    offset as a TODO; weights are absent): ``weights_col`` — per-row
    non-negative sample weights, glmnet semantics (internally rescaled
    to sum to n; all families); ``offset_col`` — per-row fixed
    linear-predictor term (gaussian, binomial, poisson: one column;
    multinomial / mgaussian: a sequence of one column per class resp.
    response, the glmnet n×k offset matrix; glmnet semantics: predict()
    then requires ``newoffset``); and ``family='poisson'`` (log link)
    itself.

    ``type_multinomial='grouped'`` (another reference TODO —
    R/sgdnet.R:265 forces 'ungrouped') applies the group-lasso penalty
    over each feature's k class coefficients, so features are selected
    for all classes jointly (glmnet type.multinomial semantics); the
    fit's ``grouped`` field records it (reference sgdnet.R:155).

    Differential-penalty options (glmnet semantics, the reference's
    declared compatibility target): ``penalty_factor`` — length-p
    non-negative per-feature penalty multipliers, internally rescaled so
    the finite factors sum to their count (0 = never penalized, always
    in the model; inf = excluded); ``exclude`` — feature indices forced
    out of the model (== an infinite penalty factor); ``lower_limits`` /
    ``upper_limits`` — scalar or length-p box constraints on the
    coefficients (original x scale; must bracket 0), supported for
    gaussian / binomial / poisson.

    ``relax=True`` (glmnet relax semantics) additionally computes the
    relaxed (debiased) companion path — an UNPENALIZED refit on each
    lambda's active set (closed-form OLS on the Gram for gaussian;
    cached restricted IRLS for binomial/poisson) — exposed as
    ``a0_relaxed``/``beta_relaxed``/``dev_ratio_relaxed`` and blended by
    ``coef(s, gamma=)`` / ``predict(gamma=)`` (gamma=1 penalized,
    gamma=0 fully relaxed).
    """
    if family not in FAMILIES:
        raise ValueError(f"family must be one of {FAMILIES}")
    if type_multinomial not in ("ungrouped", "grouped"):
        raise ValueError("type_multinomial must be 'ungrouped' or 'grouped'")
    grouped_multi = family == "multinomial" and type_multinomial == "grouped"
    multi_offset = family in ("multinomial", "mgaussian") and offset_col is not None
    if multi_offset and isinstance(offset_col, str):
        kind = "class" if family == "multinomial" else "response"
        raise ValueError(
            f"{family} offsets are n×k: pass offset_col as a sequence of "
            f"one column per {kind}, e.g. ['o_a', 'o_b', 'o_c']"
        )
    if offset_col is not None and not multi_offset and not isinstance(offset_col, str):
        raise ValueError(
            f"offset_col must be a single column name for family='{family}'"
        )
    has_limits = lower_limits is not None or upper_limits is not None
    if has_limits and family in ("multinomial", "mgaussian"):
        raise NotImplementedError(
            "lower_limits/upper_limits are supported for gaussian, binomial "
            "and poisson only (per-class box constraints on multivariate "
            "families are not implemented)"
        )
    if relax and family in ("multinomial", "mgaussian"):
        raise NotImplementedError(
            "relax=True is supported for gaussian, binomial and poisson"
        )
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("elastic net mixing parameter (alpha) must be in [0, 1].")
    if lambdas is not None and np.any(np.asarray(lambdas) < 0):
        raise ValueError("penalty strengths (lambdas) must be non-negative.")
    if thresh < 0:
        raise ValueError("threshold for stopping criteria cannot be negative.")
    if maxit <= 0:
        raise ValueError("maximum number of iterations cannot be negative or zero.")
    if nlambda <= 0 and (lambdas is None or len(lambdas) == 0):
        raise ValueError("lambda path cannot be of zero length.")

    orig_features = feature_cols if isinstance(feature_cols, str) else list(feature_cols)
    if isinstance(feature_cols, str):
        # single array<numeric> column (e.g. an embedding): expand to
        # element expressions; dim taken from the first row
        arr = feature_cols
        first = df.select(F.size(F.col(arr)).alias("d")).first()
        if first is None:
            raise ValueError("the predictor matrix (x) is empty.")
        dim = int(first["d"])
        feature_exprs = [F.col(arr)[i] for i in range(dim)]
        feature_names = [f"{arr}[{i}]" for i in range(dim)]
    else:
        feature_exprs = list(feature_cols)
        feature_names = list(feature_cols)

    p = len(feature_names)
    if solver not in ("auto", "local", "spark", "fista"):
        raise ValueError("solver must be one of 'auto', 'local', 'spark', 'fista'")

    # sample weights: ONE tiny aggregation gives the n/Σw rescale factor
    # (glmnet's weights-sum-to-n convention) so every downstream /n is
    # the correct weighted mean with no kernel-side renormalization. The
    # same pass validates weights AND offsets for NULL/NaN (shared with
    # the sparse entry point: suffstats.validate_weights_offsets).
    offset_names = (
        list(offset_col) if multi_offset
        else ([offset_col] if offset_col is not None else [])
    )
    weight_expr = suffstats.validate_weights_offsets(
        df, weights_col=weights_col, offset_names=offset_names
    )

    if offset_col is None:
        offset_expr = None
    elif multi_offset:
        offset_expr = [F.col(c).cast("double") for c in offset_col]
    else:
        offset_expr = F.col(offset_col).cast("double")
    gaussian_offset = offset_expr is not None and family == "gaussian"

    fast = None
    if (
        family in ("binomial", "multinomial")
        and solver == "auto"
        and p <= 2000  # wide p goes to FISTA below
        and not grouped_multi  # grouped goes straight to the FISTA driver
        and not multi_offset  # n×k offsets take the assemble path
        and isinstance(label_col, str)
    ):
        fast = _local_classification(df, feature_exprs, label_col, family,
                                     collect_max_cells, p,
                                     weight_expr=weight_expr, offset_expr=offset_expr)

    if fast is not None:
        provider, mom, classnames, k = fast
        response_names = None
        feature_cols = feature_names
    else:
        label_exprs, classnames, response_names = _prepare_labels(df, label_col, family)
        if multi_offset and len(offset_expr) != len(label_exprs):
            kind = "class" if family == "multinomial" else "response"
            raise ValueError(
                f"{family} offset_col needs one column per {kind}: got "
                f"{len(offset_expr)} columns for {len(label_exprs)} targets "
                f"{classnames if family == 'multinomial' else response_names}"
            )
        mgauss_offset = offset_expr is not None and family == "mgaussian"
        if gaussian_offset:
            # exact equivalence: a gaussian fit with offset o is the plain
            # fit on (y - o); predict() adds newoffset back to the link
            label_exprs = [
                (F.col(e) if isinstance(e, str) else e).cast("double") - offset_expr
                for e in label_exprs
            ]
        elif mgauss_offset:
            # the same identity holds per response for the multi-response
            # gaussian: each y_c shifts by its own offset column
            label_exprs = [
                (F.col(e) if isinstance(e, str) else e).cast("double") - oe
                for e, oe in zip(label_exprs, offset_expr)
            ]

        # assemble: only the needed columns reach the scan (column pruning)
        xy = suffstats.assemble(
            df, feature_exprs, label_exprs,
            weight_expr=weight_expr,
            offset_expr=None if (gaussian_offset or mgauss_offset) else offset_expr,
        )
        feature_cols = feature_names

        k = len(label_exprs)

        provider = SparkXY(xy, p, k)
        if family == "poisson":
            ymin = xy.agg(F.min("y0")).first()[0]
            if ymin is None:
                raise ValueError("the predictor matrix (x) is empty.")
            if float(ymin) < 0:
                raise ValueError("negative responses not permitted for Poisson family")
    # wide p: the p x p Gram / IRLS quadratic stops paying -> pass-per-
    # iteration proximal gradient with O(p·k) state (explicit
    # solver='fista', or auto beyond ~2000 features)
    use_fista = family in ("gaussian", "binomial", "multinomial") and (
        solver == "fista" or (solver in ("auto", "spark") and p > 2000) or grouped_multi
    )
    if use_fista:
        if relax:
            raise NotImplementedError(
                "relax=True is not supported on the wide-p FISTA path "
                "(the active-set refit needs the Gram-based drivers); "
                "use solver='auto' with p <= 2000"
            )
        provider.cache()
        mom = provider.moments_diag()
        n = mom.n
        if lambda_min_ratio is None:
            lambda_min_ratio = 0.01 if n < p else 1e-4
        if solver in ("auto", "fista") and n * (p + k) <= collect_max_cells:
            # per-iteration passes become numpy calls when the data fits
            local = provider.to_local(max_cells=float("inf"))
            provider.unpersist()
            local.passes += provider.passes
            provider = local
        fista_driver = {
            "gaussian": path_mod.gaussian_path_fista,
            "binomial": path_mod.binomial_path_fista,
            "multinomial": path_mod.multinomial_path_fista,
        }[family]
        fkw = {"grouped": True} if grouped_multi else {}
        if penalty_factor is not None or exclude is not None:
            fkw.update(penalty_factor=penalty_factor, exclude=exclude)
        if has_limits:
            fkw.update(lower_limits=lower_limits, upper_limits=upper_limits)
        res = fista_driver(
            provider, alpha=alpha, nlambda=nlambda, lambda_min_ratio=lambda_min_ratio,
            lambdas=lambdas, standardize=standardize, intercept=intercept,
            thresh=min(thresh, 1e-6), maxit=max(maxit, 100), mom=mom, **fkw,
        )
    elif solver == "fista":
        raise ValueError("solver='fista' supports gaussian, binomial, multinomial")
    else:
        if fast is not None:
            n = mom.n  # classes, Y, and moments all came from the one collect
        elif solver == "local":
            # force the numpy provider end-to-end (tests / debugging)
            provider = provider.to_local(max_cells=float("inf"))
            mom = provider.moments()
            n = mom.n
        else:
            # moments always come from the one-pass JVM/Arrow aggregation — they
            # are needed regardless of solver and also tell us n for the
            # local-vs-distributed decision without an extra count() scan.
            mom = provider.moments()
            n = mom.n
            if family in ("binomial", "multinomial", "poisson"):
                # iterative families: collect once if it fits the driver budget
                # (gaussian/mgaussian never collect — one Gram pass IS the fit)
                if solver == "auto" and n * (p + k) <= collect_max_cells:
                    local = provider.to_local(max_cells=float("inf"))
                    local.passes += provider.passes
                    provider = local
                else:
                    provider.cache()  # distributed IRLS passes reuse the frame
        if lambda_min_ratio is None:
            lambda_min_ratio = 0.01 if n < p else 1e-4

        kwargs = dict(
            alpha=alpha, nlambda=nlambda, lambda_min_ratio=lambda_min_ratio,
            lambdas=lambdas, standardize=standardize, intercept=intercept,
            thresh=min(thresh, 1e-6) if family in ("gaussian", "mgaussian") else max(thresh * 0.1, 1e-10),
            maxit=maxit, mom=mom,
            penalty_factor=penalty_factor, exclude=exclude,
        )
        if family in ("gaussian", "binomial", "poisson"):
            kwargs.update(lower_limits=lower_limits, upper_limits=upper_limits, relax=relax)
        if family == "gaussian":
            res = path_mod.gaussian_path(provider, **kwargs)
        elif family == "mgaussian":
            res = path_mod.mgaussian_path(provider, standardize_response=standardize_response, **kwargs)
        elif family == "binomial":
            res = path_mod.binomial_path(provider, **kwargs)
        elif family == "poisson":
            res = path_mod.poisson_path(provider, **kwargs)
        else:
            res = path_mod.multinomial_path(provider, **kwargs)

    if isinstance(provider, SparkXY):
        provider.unpersist()

    train = dict(
        df=df, feature_cols=orig_features, label_col=label_col, family=family,
        alpha=alpha, maxit=maxit, standardize=standardize, intercept=intercept,
        thresh=thresh, standardize_response=standardize_response, solver=solver,
        weights_col=weights_col, offset_col=offset_col,
        type_multinomial=type_multinomial,
        penalty_factor=penalty_factor, exclude=exclude,
        lower_limits=lower_limits, upper_limits=upper_limits,
        relax=relax,
    )
    return SgdnetFit(
        family=family,
        alpha=alpha,
        lambdas=res.lambdas,
        a0=res.a0,
        beta=res.beta,
        df=res.df,
        dev_ratio=res.dev_ratio,
        nulldev=res.nulldev,
        npasses=res.npasses,
        nobs=n,
        feature_names=feature_cols,
        classnames=classnames,
        response_names=response_names,
        dfmat=res.dfmat,
        intercept=intercept,
        standardize=standardize,
        offset=offset_col is not None,
        grouped=grouped_multi,
        a0_relaxed=res.a0_relaxed,
        beta_relaxed=res.beta_relaxed,
        dev_ratio_relaxed=res.dev_ratio_relaxed,
        _train=train,
        diagnostics={"loss": res.loss} if res.loss is not None else None,
    )
