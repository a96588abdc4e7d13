"""The GLM workloads: the ops one client issues in a closed loop, and the
check applied to each op's output.

``glm_local`` lets every fit take the driver fast path (one collect, then
numpy passes); ``glm_spark`` forces the same fits onto the distributed
path with ``solver="spark"`` and ``collect_max_cells=0``, so every pass is
a Spark job. Path lengths are sized so one cycle of ops fits a run.
"""

from __future__ import annotations

import dataclasses

import numpy as np

import checks
import datagen

OPS = ("fit_gaussian", "fit_binomial", "fit_multinomial", "fit_sparse", "cv", "predict", "score")

SIZES = {"full": dict(n_dense=50_000, n_sparse=2_000),
         "tiny": dict(n_dense=4_000, n_sparse=400)}

_SPARK = dict(solver="spark", collect_max_cells=0)

# per workload: keyword arguments of each fit. cv on glm_local is the
# 5-fold binomial CV; on glm_spark it is the gaussian fold-moments pass.
FIT_ARGS = {
    "glm_local": {
        "gaussian": dict(nlambda=100),
        "binomial": dict(nlambda=30, lambda_min_ratio=0.01),
        "multinomial": dict(nlambda=4, lambda_min_ratio=0.2),
        "sparse": dict(family="binomial", nlambda=3, lambda_min_ratio=0.2, thresh=1e-4),
        "cv": dict(label="y_bin", family="binomial", nfolds=5, nlambda=3, lambda_min_ratio=0.3),
    },
    "glm_spark": {
        "gaussian": dict(nlambda=100, **_SPARK),
        "binomial": dict(nlambda=2, lambda_min_ratio=0.8, **_SPARK),
        # a loose IRLS tolerance keeps this path to 5 Spark passes on every
        # seed tried (1-40, 101-110); at lambda_min_ratio=0.5 it took 6 or 7
        "multinomial": dict(nlambda=2, lambda_min_ratio=0.8, thresh=0.1, **_SPARK),
        # FISTA capped at 3 iterations per lambda, on both strategies alike
        "sparse": dict(family="binomial", nlambda=2, lambda_min_ratio=0.8, thresh=1e-4,
                       maxit=3, collect_max_cells=0),
        "cv": dict(label="y_gauss", nfolds=5, nlambda=20),
    },
}

# calls of each op per cycle: sub-second ops run several times so their
# medians rest on more samples
REPEATS = {
    "glm_local": dict(fit_gaussian=2, fit_binomial=2, predict=2, score=2),
    "glm_spark": dict(fit_gaussian=2, cv=3, predict=4, score=4),
}

# warm-up runs every op once on the shortest path it accepts: the first
# calls pay JIT, codegen and Python worker start
WARM_ARGS = {"fit": dict(nlambda=1), "cv": dict(nlambda=2, lambda_min_ratio=0.99)}

X_COLS = [f"x{j}" for j in range(datagen.P_DENSE)]
LABELS = {"gaussian": "y_gauss", "binomial": "y_bin", "multinomial": "y_multi"}


def _local_args(args: dict) -> dict:
    return {k: v for k, v in args.items() if k not in _SPARK}


class Workload:
    """Holds the inputs of one run and issues its ops."""

    def __init__(self, name: str, spark, inputs: dict, fault: str | None = None):
        self.name = name
        self.args = FIT_ARGS[name]
        self.fault = fault
        self.dense = spark.read.parquet(inputs["dense"][0])
        self.sparse = spark.read.parquet(inputs["sparse"][0])
        self.sparse_table = inputs["sparse"][1]
        table = inputs["dense"][1]
        self.x = np.column_stack([table[c].to_numpy() for c in X_COLS])
        self.y = {fam: table[col].to_numpy().astype(float) for fam, col in LABELS.items()}
        self.warm = False
        self.fits: dict = {}
        self._ref: dict = {}

    # ------------------------------------------------------------------ ops

    def fit(self, kind: str, **args):
        from sgdnet_spark.glm import sgdnet, sgdnet_sparse

        if kind == "sparse":
            return sgdnet_sparse(self.sparse, "idx", "val", "y", datagen.P_SPARSE, **args)
        return sgdnet(self.dense, X_COLS, LABELS[kind], family=kind, **args)

    def _args(self, kind: str) -> dict:
        if not self.warm:
            return self.args[kind]
        return dict(self.args[kind], **WARM_ARGS["cv" if kind == "cv" else "fit"])

    def cv(self):
        from sgdnet_spark.glm import cv_sgdnet

        args = dict(self._args("cv"))
        return cv_sgdnet(self.dense, X_COLS, args.pop("label"), **args)

    def predict(self):
        """Response-scale predictions at every third lambda of the binomial
        path over the whole frame, forced by summing each column."""
        from pyspark.sql import functions as F

        frame = self.dense.where("rid > 0") if self.fault == "row" else self.dense
        fit = self.fits["fit_binomial"]
        pred = fit.predict(frame, s=fit.lambdas[::3], type="response")
        cols = [c for c in pred.columns if c not in self.dense.columns]
        return list(pred.agg(*[F.sum(c) for c in cols]).first())

    def score(self):
        """Binomial deviance at every third lambda of the path."""
        from sgdnet_spark.glm import score

        fit = self.fits["fit_binomial"]
        return score(fit, self.dense, X_COLS, "y_bin", s=fit.lambdas[::3])

    def ops(self) -> dict:
        def fit(kind):
            return lambda: self.fit(kind, **self._args(kind))

        return {
            "fit_gaussian": fit("gaussian"),
            "fit_binomial": fit("binomial"),
            "fit_multinomial": fit("multinomial"),
            "fit_sparse": fit("sparse"),
            "cv": self.cv,
            "predict": self.predict,
            "score": self.score,
        }

    # --------------------------------------------------------------- checks

    def keep(self, op: str, out):
        """Keep the latest binomial fit for predict/score; apply an
        injected fault."""
        if self.fault == "coef" and op == "fit_gaussian":
            beta = out.beta.copy()
            beta[:, -1] *= 1.05
            out = dataclasses.replace(out, beta=beta)
        if op == "fit_binomial":
            self.fits[op] = out
        return out

    def reference(self, kind: str):
        """The same fit on the driver path, for the strategy match."""
        if kind not in self._ref:
            self._ref[kind] = self.fit(kind, **_local_args(self.args[kind]))
        return self._ref[kind]

    def check(self, op: str, out) -> list[str]:
        if op.startswith("fit_"):
            family = op[4:]
            problems = checks.dev_ratio_monotone(out)
            if family in ("gaussian", "binomial"):
                problems += checks.kkt(out, self.x, self.y[family])
            if self.name == "glm_spark" and not self.warm:
                problems += checks.fits_match(op, out, self.reference(family))
            return problems
        if op == "cv":
            return checks.cv_sane(out)
        if op == "predict":
            fit = self.fits["fit_binomial"]
            want = fit.predict_np(self.x, s=fit.lambdas[::3], type="response").sum(axis=0)
            return checks.close("predict column sums", out, want, checks.CLOSED_FORM_RTOL)
        if op == "score":
            from sgdnet_spark.glm import score_np

            fit = self.fits["fit_binomial"]
            want = score_np(fit, self.x, self.y["binomial"], s=fit.lambdas[::3])
            return checks.close("score along the path", out, want, checks.CLOSED_FORM_RTOL)
        raise KeyError(op)

    def check_sampled_rows(self, seed: int, k: int = 64) -> list[str]:
        """predict() on sampled rows against fit.predict_np row by row."""
        rng = np.random.default_rng([seed, 0x9e3])
        rows = np.sort(rng.choice(len(self.x), size=min(k, len(self.x)), replace=False))
        fit = self.fits["fit_binomial"]
        sample = self.dense.where(self.dense.rid.isin([int(r) for r in rows]))
        pred = fit.predict(sample, type="response").orderBy("rid")
        cols = [c for c in pred.columns if c not in self.dense.columns]
        got = np.array([list(r) for r in pred.select(*cols).collect()], dtype=float)
        want = fit.predict_np(self.x[rows], type="response")
        return checks.close("predict on sampled rows", got, want, checks.CLOSED_FORM_RTOL)
