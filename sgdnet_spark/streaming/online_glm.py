"""Online GLM fitting over a stream — the Spark-native analog of the
reference's incremental (SAGA) learning.

The gaussian family's sufficient statistics (suffstats.Moments) are
additive across micro-batches, so a foreachBatch sink can maintain the
EXACT full-data Gram and refit the entire lambda path after every batch:
model-after-N-batches == batch fit on the union of those batches, to
solver tolerance (asserted in tests). State is O(p²), independent of
stream length.

The iterative families (binomial / poisson / multinomial) take one
damped IRLS step per batch. They only need the running feature
mean/std — so their per-batch statistics pass is the O(p)
``moments_diag``, never the O(p²) Gram (which nothing downstream of
them reads).
"""

from __future__ import annotations

from types import SimpleNamespace
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame

from sgdnet_spark.glm import path as path_mod
from sgdnet_spark.glm import suffstats
from sgdnet_spark.glm.providers import SparkXY
from sgdnet_spark.glm.suffstats import Moments


class _OnlineIRLS:
    """Shared machinery of the damped per-batch IRLS estimators: running
    diag moments for standardization, one penalized WLS step per batch
    against the batch's local quadratic, damped by ``step``. Subclasses
    supply the IRLS kernel (and optionally a warm start)."""

    def __init__(self, feature_cols: Sequence[str], label_col, lam: float = 0.0,
                 alpha: float = 1.0, step: float = 0.7, intercept: bool = True):
        self.feature_cols = list(feature_cols)
        self.label_col = label_col
        self.lam = lam
        self.alpha = alpha
        self.step = step
        self.intercept = intercept
        self.moments: Moments | None = None
        p = len(self.feature_cols)
        # null model + identity standardization until the first
        # non-empty batch, so coefficients() is well-defined from the
        # start
        self.coef = np.zeros(p)
        self.b0 = 0.0
        self._x_mean = np.zeros(p)
        self._x_std = np.ones(p)
        self.n_batches = 0

    # subclass hooks -------------------------------------------------------
    def _irls(self, prov: SparkXY):
        raise NotImplementedError

    def _warm_start(self, mom: Moments) -> None:
        """First-batch initialization (poisson seeds b0); default no-op."""

    def update(self, batch_df: DataFrame) -> None:
        from sgdnet_spark.glm.solvers import wls_enet_cd

        p = len(self.feature_cols)
        xy = suffstats.assemble(batch_df, self.feature_cols, [self.label_col])
        prov = SparkXY(xy, p, 1)
        try:
            # diag moments: this path only ever reads mean/std — the
            # O(p²) Gram would be built and thrown away every batch
            mom = prov.moments_diag()
        except ValueError:  # empty batch
            return
        if self.moments is None:
            self.moments = mom
            self.coef = np.zeros(p)
            self._warm_start(mom)
        else:
            self.moments = self.moments + mom
        m = self.moments
        x_mean = m.x_mean
        x_std = np.where(m.x_std() > 0, m.x_std(), 1.0)
        prov.set_standardization(x_mean, 1.0 / x_std)
        sw, swx, swxx, swxz, swz, _ = self._irls(prov)
        new_coef, new_b0, _ = wls_enet_cd(
            sw, swx, swxx, swxz, swz, mom.n, self.lam, self.alpha,
            self.coef, self.b0, self.intercept,
        )
        self.coef = self.coef + self.step * (new_coef - self.coef)
        self.b0 = self.b0 + self.step * (new_b0 - self.b0)
        self._x_mean, self._x_std = x_mean, x_std
        self.n_batches += 1

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.update(batch_df)

    def coefficients(self):
        """(intercept, coef) on the ORIGINAL feature scale."""
        b = self.coef / self._x_std
        a0 = self.b0 - float(self._x_mean @ b) if self.intercept else 0.0
        return a0, b


class OnlineBinomial(_OnlineIRLS):
    """Streaming logistic regression: one damped IRLS step per micro-batch.

    The micro-batch reincarnation of the reference's incremental-gradient
    (SAGA) idea: each batch contributes a local quadratic model
    (suffstats.weighted_quadratic on just that batch) and the coefficients
    take one penalized WLS step against it, damped by ``step``.
    Approximate (unlike the exact gaussian accumulator) but converges to
    the stationary MLE region for stationary streams; standardization
    statistics come from a pilot batch or accumulate online.
    """

    def _irls(self, prov: SparkXY):
        return prov.irls_binomial(self.coef, self.b0)


class OnlinePoisson(_OnlineIRLS):
    """Streaming poisson regression (log link): one damped IRLS step per
    micro-batch — the poisson sibling of OnlineBinomial, completing the
    online estimators for every iterative family the batch engine fits
    (poisson itself being a round-5 extension beyond the reference)."""

    def _warm_start(self, mom: Moments) -> None:
        # start at the intercept-only MLE of the first batch so the
        # exp() link never sees a wild eta on step one
        if self.intercept:
            self.b0 = float(np.log(max(float(mom.y_mean[0]), 1e-300)))

    def _irls(self, prov: SparkXY):
        return prov.irls_poisson(self.coef, self.b0)


class OnlineGaussianPath:
    """Accumulates moments batch-by-batch; refit() is driver-side only.

    The one online estimator that DOES need the full Gram (the lambda
    path refit solves against C), so moments() here is the O(p²) pass.
    """

    def __init__(self, feature_cols: Sequence[str], label_col: str, alpha: float = 1.0,
                 nlambda: int = 20, lambda_min_ratio: float = 1e-3):
        self.feature_cols = list(feature_cols)
        self.label_col = label_col
        self.alpha = alpha
        self.nlambda = nlambda
        self.lambda_min_ratio = lambda_min_ratio
        self.moments: Moments | None = None
        self.n_batches = 0

    def update(self, batch_df: DataFrame) -> None:
        xy = suffstats.assemble(batch_df, self.feature_cols, [self.label_col])
        p, k = len(self.feature_cols), 1
        try:
            mom = SparkXY(xy, p, k).moments()
        except ValueError:  # empty batch
            return
        self.moments = mom if self.moments is None else self.moments + mom
        self.n_batches += 1

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.update(batch_df)

    def fit(self) -> path_mod.PathResult:
        if self.moments is None:
            raise ValueError("no data seen yet")
        # mom= short-circuits provider.moments(); the namespace only
        # feeds npasses — one statistics pass per batch seen
        provider = SimpleNamespace(passes=self.n_batches)
        return path_mod.gaussian_path(
            provider, self.alpha, nlambda=self.nlambda,
            lambda_min_ratio=self.lambda_min_ratio, mom=self.moments,
        )


class OnlineMultinomial:
    """Streaming softmax regression: one damped block-Newton step per
    micro-batch — the k-class sibling of OnlineBinomial.

    Each batch contributes every class's local IRLS quadratic in ONE
    pass (suffstats.weighted_quadratic_multinomial_all on just that
    batch); all class coefficients take a damped penalized-WLS step.
    Classes must be declared up front (a stream can't sort labels it
    has not seen yet) — matching the reference's factor-level contract.
    """

    def __init__(self, feature_cols: Sequence[str], label_col: str, classes: Sequence,
                 lam: float = 0.0, alpha: float = 1.0, step: float = 0.7,
                 intercept: bool = True):
        self.feature_cols = list(feature_cols)
        self.label_col = label_col
        self.classes = list(classes)
        self.lam = lam
        self.alpha = alpha
        self.step = step
        self.intercept = intercept
        self.moments: Moments | None = None
        p, k = len(self.feature_cols), len(self.classes)
        self.coefs = np.zeros((k, p))
        self.b0s = np.zeros(k)
        self.n_batches = 0
        # identity standardization until the first non-empty batch, so
        # coefficients()/predict_class_np() never hit missing attributes
        self._x_mean = np.zeros(p)
        self._x_std = np.ones(p)

    def update(self, batch_df: DataFrame) -> None:
        from pyspark.sql import functions as F

        from sgdnet_spark.glm.solvers import wls_enet_cd

        p, k = len(self.feature_cols), len(self.classes)
        onehot = [
            F.when(F.col(self.label_col) == F.lit(c), 1.0).otherwise(0.0) for c in self.classes
        ]
        xy = suffstats.assemble(batch_df, self.feature_cols, onehot)
        prov = SparkXY(xy, p, k)
        try:
            mom = prov.moments_diag()  # mean/std only — never the Gram
        except ValueError:  # empty batch
            return
        self.moments = mom if self.moments is None else self.moments + mom
        m = self.moments
        x_mean = m.x_mean
        x_std = np.where(m.x_std() > 0, m.x_std(), 1.0)
        prov.set_standardization(x_mean, 1.0 / x_std)
        stats, _ = prov.irls_multinomial_all(self.coefs, self.b0s)
        for c in range(k):
            sw, swx, swxx, swxz, swz = stats[c]
            new_coef, new_b0, _ = wls_enet_cd(
                sw, swx, swxx, swxz, swz, mom.n, self.lam, self.alpha,
                self.coefs[c], float(self.b0s[c]), self.intercept,
            )
            self.coefs[c] = self.coefs[c] + self.step * (new_coef - self.coefs[c])
            self.b0s[c] = self.b0s[c] + self.step * (new_b0 - self.b0s[c])
        self._x_mean, self._x_std = x_mean, x_std
        self.n_batches += 1

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.update(batch_df)

    def coefficients(self):
        """(a0s (k,), coefs (k, p)) on the ORIGINAL feature scale,
        intercepts recentred to sum to zero (reference R/sgdnet.R:409)."""
        B = self.coefs / self._x_std[None, :]
        a0 = self.b0s - B @ self._x_mean if self.intercept else np.zeros(len(self.classes))
        if self.intercept:
            a0 = a0 - a0.mean()
        return a0, B

    def predict_class_np(self, x) -> list:
        a0, B = self.coefficients()
        eta = np.asarray(x, dtype=float) @ B.T + a0
        return [self.classes[i] for i in eta.argmax(axis=1)]
