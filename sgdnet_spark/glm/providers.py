"""Data providers: one interface, two execution strategies.

``SparkXY`` keeps the data distributed and serves the solvers aggregate
passes (scales to arbitrary n; the 100 TB path). ``LocalXY`` is the
driver fast path used when n*p is small enough to collect — the same
decision Spark MLlib makes between normal-equation and iterative solvers.

Every pass statistic is ONE ``suffstats`` kernel over a block of rows;
the providers differ only in where it runs (Spark Arrow batches vs row
blocks of the driver's cached standardized X), so their statistics
differ only in floating-point summation order across batches and
blocks. tests/test_distributed_solver.py compares every pass between
the two at relative 1e-10.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame

from sgdnet_spark.glm import suffstats
from sgdnet_spark.glm.suffstats import Moments


_POOL = None


def _irls_pool():
    """Shared driver thread pool for the blocked passes (one per
    process, lazily built — a per-fit pool would leak 8 threads per fit
    across a long session). numpy ufuncs and BLAS release the GIL over
    contiguous float blocks, so plain threads scale these passes."""
    global _POOL
    if _POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _POOL = ThreadPoolExecutor(
            max_workers=LocalXY._IRLS_THREADS, thread_name_prefix="sgdnet-irls"
        )
    return _POOL


class LocalXY:
    """Numpy-backed provider. x: (n,p) raw scale; y: (n,k).

    ``w`` (optional sample weights, any positive scale — rescaled here to
    mean 1, the glmnet weights-sum-to-n convention) and ``o`` (optional
    per-row linear-predictor offset for binomial/poisson) extend the
    reference surface: R/sgdnet.R:341 leaves offset as a TODO and has no
    weights parameter at all."""

    def __init__(self, x: np.ndarray, y: np.ndarray, w: np.ndarray | None = None,
                 o: np.ndarray | None = None):
        self.x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        self.y = y.reshape(-1, 1) if y.ndim == 1 else y
        self.n, self.p = self.x.shape
        if w is not None:
            w = np.asarray(w, dtype=np.float64)
            # NaN fails every comparison, so np.any(w < 0) and tot <= 0
            # are both False for NaN weights — check finiteness first or
            # a single NULL/NaN row silently yields all-NaN coefficients
            if not np.all(np.isfinite(w)):
                raise ValueError("sample weights contain NULL/NaN/inf values")
            if np.any(w < 0):
                raise ValueError("sample weights must be non-negative")
            tot = float(w.sum())
            if tot <= 0:
                raise ValueError("sample weights must not all be zero")
            w = w * (self.n / tot)
        self.w = w
        if o is not None:
            o = np.asarray(o, dtype=np.float64)
            if not np.all(np.isfinite(o)):
                raise ValueError("offset contains NULL/NaN/inf values")
        self.o = o
        self.passes = 0

    @property
    def has_offset(self) -> bool:
        return self.o is not None

    def set_standardization(self, x_mean: np.ndarray, x_inv_std: np.ndarray) -> None:
        self.x_mean = x_mean
        self.x_inv_std = x_inv_std
        self._xs_cache: np.ndarray | None = None

    def _xs(self) -> np.ndarray:
        # standardized X is reused by every pass — cache it (the raw
        # collect already fit in the driver budget; one more copy does too)
        if getattr(self, "_xs_cache", None) is None:
            self._xs_cache = (self.x - self.x_mean) * self.x_inv_std
        return self._xs_cache

    # rows per block in the passes: big enough that the p-sized BLAS
    # calls amortize, small enough that every per-block temporary
    # (~10 arrays x 8B x block) stays cache/TLB-resident instead of
    # cycling hundreds of MB of fresh allocations per pass (at n=6M the
    # unchunked IRLS pass allocated an n x p weighted copy of X every
    # call — profiled 0.68s/pass; chunked ~0.2s/pass)
    _IRLS_BLOCK = 1 << 18
    # driver threads for the blocked passes: numpy ufuncs (exp/log/mul)
    # and BLAS release the GIL over contiguous float blocks, so the
    # block loop parallelizes on plain threads. Results stay
    # DETERMINISTIC: each block's partial is stored by block index and
    # reduced in a fixed left-fold, identical to the sequential loop.
    _IRLS_THREADS = 8

    def _blocked_pass(self, kernel, *args, cols=None, raw=False) -> np.ndarray:
        """The driver reducer: sum ``kernel(x, y, w, o, *args)`` (a
        suffstats kernel) over row blocks of the cached standardized X —
        raw X when ``raw`` — in block order, threaded when there is more
        than one block. ``cols`` slices each block to the screened
        features, never the full n x |S| copy."""
        x = self.x if raw else self._xs()

        def block(s):
            e = s + self._IRLS_BLOCK
            return kernel(
                x[s:e] if cols is None else x[s:e, cols], self.y[s:e],
                None if self.w is None else self.w[s:e],
                None if self.o is None else self.o[s:e], *args,
            )

        starts = range(0, self.n, self._IRLS_BLOCK)
        if len(starts) > 1 and self._IRLS_THREADS > 1:
            partials = list(_irls_pool().map(block, starts))
        else:
            partials = [block(s) for s in starts]
        return functools.reduce(np.add, partials)

    def moments(self) -> Moments:
        self.passes += 1
        return Moments.unpack(self._blocked_pass(suffstats.moments_kernel, raw=True),
                              self.p, self.y.shape[1])

    def moments_diag(self) -> Moments:
        # honor the O(p) contract: no p×p Gram even on the local
        # provider (a wide-p collect that fit the n·p budget would
        # otherwise allocate p² bytes here)
        self.passes += 1
        return Moments.unpack(self._blocked_pass(suffstats.moments_kernel, True, raw=True),
                              self.p, self.y.shape[1], diag=True)

    def gradient_gaussian(self, coef: np.ndarray, intercept: float):
        self.passes += 1
        out = self._blocked_pass(suffstats.grad_kernel, coef, intercept, "gaussian")
        return suffstats.unpack_grad(out, self.p, "gaussian")

    def cov_vec(self, v: np.ndarray) -> np.ndarray:
        self.passes += 1
        return suffstats.unpack_cov(self._blocked_pass(suffstats.cov_kernel, v), self.p)

    def grad_binomial(self, coef: np.ndarray, b0: float):
        """Logistic gradient (standardized scale); y is the 0/1 column."""
        self.passes += 1
        out = self._blocked_pass(suffstats.grad_kernel, coef, b0, "binomial")
        return suffstats.unpack_grad(out, self.p, "binomial")

    def grad_poisson(self, coef: np.ndarray, b0: float):
        """Poisson (log link) gradient: (x̃ᵀ w̃(mu-y)/n, mean resid, dev)."""
        self.passes += 1
        out = self._blocked_pass(suffstats.grad_kernel, coef, b0, "poisson")
        return suffstats.unpack_grad(out, self.p, "poisson")

    def grad_multinomial(self, coefs: np.ndarray, b0s: np.ndarray):
        """Softmax gradient for all classes; self.y is one-hot (n, k).
        ``self.o`` (when 2-d) is the fixed n×k multinomial offset."""
        self.passes += 1
        out = self._blocked_pass(suffstats.grad_multinomial_kernel, coefs, b0s)
        return suffstats.unpack_grad_multinomial(out, self.p, coefs.shape[0])

    def irls_binomial(self, coef: np.ndarray, intercept: float, cols=None):
        # hot loop: ~3 calls per lambda over the full n. cols (strong-rule
        # screening): quadratic stats restricted to the given feature
        # subset — coef is then |cols|-sized and O(n·|S|²) replaces
        # O(n·p²).
        self.passes += 1
        out = self._blocked_pass(suffstats.irls_kernel, coef, intercept, "binomial", cols=cols)
        return suffstats.unpack_irls(out, coef.shape[0])

    def irls_poisson(self, coef: np.ndarray, intercept: float, cols=None):
        """One IRLS pass for poisson (log link); the fit statistic is the
        (positive) deviance. ``cols`` as in irls_binomial."""
        self.passes += 1
        out = self._blocked_pass(suffstats.irls_kernel, coef, intercept, "poisson", cols=cols)
        return suffstats.unpack_irls(out, coef.shape[0])

    def poisson_null_intercept(self) -> float:
        """Closed-form weighted intercept-only poisson MLE with offset:
        e^{b0} = Σ w̃ y / Σ w̃ e^o (reduces to log(ȳ_w) without offset)."""
        yb = self.y[:, 0]
        sw = self.w if self.w is not None else 1.0
        num = float(np.sum(sw * yb))
        eo = np.exp(self.o) if self.o is not None else np.ones_like(yb)
        den = float(np.sum(sw * eo))
        return float(np.log(max(num, 1e-300) / max(den, 1e-300)))

    def irls_multinomial_all(self, coefs: np.ndarray, intercepts: np.ndarray):
        """IRLS stats for all classes at once; self.y is one-hot (n, k)."""
        self.passes += 1
        out = self._blocked_pass(suffstats.irls_multinomial_kernel, coefs, intercepts)
        return suffstats.unpack_irls_multinomial(out, self.p, coefs.shape[0])


class SparkXY:
    """Spark-backed provider over an assembled (features, label) frame."""

    def __init__(self, xy: DataFrame, p: int, k: int):
        self.xy = xy
        self.p = p
        self.k = k
        self.n: int | None = None
        self.passes = 0
        self._cached = False

    def cache(self) -> None:
        if not self._cached:
            self.xy = self.xy.persist()
            self._cached = True

    def unpersist(self) -> None:
        if self._cached:
            self.xy.unpersist()
            self._cached = False

    def moments(self) -> Moments:
        self.passes += 1
        # small p: whole-stage-codegen'd JVM aggregation beats spinning up
        # Python workers; large p: Arrow-batched numpy outer products.
        if self.p * (self.p + 1) // 2 + self.p * self.k <= 600:
            mom = suffstats.moments_jvm(self.xy, self.p, self.k)
        else:
            mom = suffstats.moments_and_gram(self.xy, self.p, self.k)
        self.n = mom.n
        return mom

    def set_standardization(self, x_mean: np.ndarray, x_inv_std: np.ndarray) -> None:
        self.x_mean = x_mean
        self.x_inv_std = x_inv_std

    def moments_diag(self) -> Moments:
        """O(p) moments for the wide-p path — never builds the p² Gram."""
        self.passes += 1
        mom = suffstats.moments_diag(self.xy, self.p, self.k)
        self.n = mom.n
        return mom

    @property
    def has_offset(self) -> bool:
        return "o" in self.xy.columns or "o0" in self.xy.columns

    def irls_binomial(self, coef: np.ndarray, intercept: float, cols=None):
        self.passes += 1
        return suffstats.weighted_quadratic(
            self.xy, self.p, coef, intercept, self.x_mean, self.x_inv_std,
            cols=cols,
        )

    def irls_poisson(self, coef: np.ndarray, intercept: float, cols=None):
        self.passes += 1
        return suffstats.weighted_quadratic(
            self.xy, self.p, coef, intercept, self.x_mean, self.x_inv_std,
            kind="poisson", cols=cols,
        )

    def poisson_null_intercept(self) -> float:
        """e^{b0} = Σ w̃ y / Σ w̃ e^o in one tiny JVM aggregation."""
        from pyspark.sql import functions as F

        w = F.col("w") if "w" in self.xy.columns else F.lit(1.0)
        eo = F.exp(F.col("o")) if "o" in self.xy.columns else F.lit(1.0)
        row = self.xy.agg(
            F.sum(w * F.col("y0")).alias("num"), F.sum(w * eo).alias("den")
        ).first()
        return float(np.log(max(float(row["num"]), 1e-300) / max(float(row["den"]), 1e-300)))

    def gradient_gaussian(self, coef: np.ndarray, intercept: float):
        self.passes += 1
        return suffstats.gradient_gaussian(
            self.xy, self.p, coef, intercept, self.x_mean, self.x_inv_std
        )

    def irls_multinomial_all(self, coefs: np.ndarray, intercepts: np.ndarray):
        self.passes += 1
        return suffstats.weighted_quadratic_multinomial_all(
            self.xy, self.p, coefs, intercepts, self.x_mean, self.x_inv_std
        )

    def cov_vec(self, v: np.ndarray) -> np.ndarray:
        self.passes += 1
        return suffstats.cov_vec(self.xy, self.p, v, self.x_mean, self.x_inv_std)

    def grad_binomial(self, coef: np.ndarray, b0: float):
        self.passes += 1
        return suffstats.gradient_binomial(
            self.xy, self.p, coef, b0, self.x_mean, self.x_inv_std
        )

    def grad_poisson(self, coef: np.ndarray, b0: float):
        self.passes += 1
        return suffstats.gradient_poisson(
            self.xy, self.p, coef, b0, self.x_mean, self.x_inv_std
        )

    def grad_multinomial(self, coefs: np.ndarray, b0s: np.ndarray):
        self.passes += 1
        return suffstats.gradient_multinomial(
            self.xy, self.p, coefs, b0s, self.x_mean, self.x_inv_std
        )

    def to_local(self, max_cells: float = 3e8) -> LocalXY | None:
        got = suffstats.collect_xy(self.xy, self.p, self.k, max_cells=max_cells)
        if got is None:
            return None
        x, y, w, o = got
        return LocalXY(x, y, w=w, o=o)
