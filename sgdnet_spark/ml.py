"""pyspark.ml Pipeline / CrossValidator integration for the GLM engine.

``SgdnetRegressor`` and ``SgdnetClassifier`` are thin ``Estimator``
wrappers around :func:`sgdnet_spark.glm.sgdnet` (the reference's
``sgdnet(x, y, family=...)`` interface, R/sgdnet.R:183), so the
elastic-net path engine plugs into pyspark.ml Pipelines,
CrossValidator / TrainValidationSplit grids, and evaluators exactly
like MLlib's own LinearRegression / LogisticRegression:

    pipe = Pipeline(stages=[VectorAssembler(...), SgdnetClassifier()])
    grid = (ParamGridBuilder()
            .addGrid(clf.alpha, [0.0, 0.5, 1.0])
            .addGrid(clf.s, [0.1, 0.01]).build())
    CrossValidator(estimator=pipe, estimatorParamMaps=grid,
                   evaluator=MulticlassClassificationEvaluator()).fit(df)

``featuresCol`` may be a ``VectorUDT`` column (e.g. VectorAssembler
output) or an ``array<numeric>`` column — both reach the engine's
vector-native fit path (one elementwise expansion, no Python UDF).
The whole lambda PATH is fitted once per ``fit``; the ``s`` param picks
the path point ``transform`` predicts at (default: the smallest lambda)
with the reference's lambda interpolation for off-path values, so a
CrossValidator grid over ``s`` re-uses one fitted path per fold — the
glmnet trick, free model selection along the path.

Model persistence uses the engine's own compact format
(``model.save(path)`` / ``SgdnetModel.load(path)`` — npz + json via
SgdnetFit); the estimators support DefaultParamsWritable. (Full
PipelineModel.save interop would need an MLWriter shim — out of scope;
persist the model object directly.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.ml import Estimator, Model
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import (
    HasFeaturesCol,
    HasLabelCol,
    HasPredictionCol,
    HasProbabilityCol,
    HasRawPredictionCol,
    HasWeightCol,
)
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame

from sgdnet_spark.glm import SgdnetFit, sgdnet
from sgdnet_spark.glm.score import class_head, response

_FEATURES_ARR = "__sgdnet_features"


class _SgdnetParams(HasFeaturesCol, HasLabelCol, HasPredictionCol, HasWeightCol):
    """Shared params; defaults mirror reference R/sgdnet.R:183."""

    alpha = Param(Params._dummy(), "alpha",
                  "elastic-net mixing in [0,1]: 1=lasso, 0=ridge",
                  typeConverter=TypeConverters.toFloat)
    nlambda = Param(Params._dummy(), "nlambda", "path length",
                    typeConverter=TypeConverters.toInt)
    lambdaMinRatio = Param(Params._dummy(), "lambdaMinRatio",
                           "lambda_min / lambda_max (<=0: reference default)",
                           typeConverter=TypeConverters.toFloat)
    s = Param(Params._dummy(), "s",
              "lambda at which transform() predicts (<0: smallest fitted "
              "lambda); off-path values interpolate like the reference",
              typeConverter=TypeConverters.toFloat)
    fitIntercept = Param(Params._dummy(), "fitIntercept", "fit an intercept",
                         typeConverter=TypeConverters.toBoolean)
    standardization = Param(Params._dummy(), "standardization",
                            "standardize features internally",
                            typeConverter=TypeConverters.toBoolean)
    # differential penalties (glmnet penalty.factor / exclude / limits);
    # left unset by default so nothing non-finite lands in param metadata
    penaltyFactor = Param(Params._dummy(), "penaltyFactor",
                          "per-feature penalty multipliers (0 = unpenalized)",
                          typeConverter=TypeConverters.toListFloat)
    excludeIndices = Param(Params._dummy(), "excludeIndices",
                           "feature indices forced out of the model",
                           typeConverter=TypeConverters.toListInt)
    lowerLimit = Param(Params._dummy(), "lowerLimit",
                       "scalar lower bound on every coefficient (<= 0)",
                       typeConverter=TypeConverters.toFloat)
    upperLimit = Param(Params._dummy(), "upperLimit",
                       "scalar upper bound on every coefficient (>= 0)",
                       typeConverter=TypeConverters.toFloat)

    def __init__(self):
        super().__init__()
        self._setDefault(alpha=1.0, nlambda=100, lambdaMinRatio=-1.0, s=-1.0,
                         fitIntercept=True, standardization=True)

    def _fit_kwargs(self):
        lmr = self.getOrDefault(self.lambdaMinRatio)
        return dict(
            alpha=self.getOrDefault(self.alpha),
            nlambda=self.getOrDefault(self.nlambda),
            lambda_min_ratio=None if lmr <= 0 else lmr,
            intercept=self.getOrDefault(self.fitIntercept),
            standardize=self.getOrDefault(self.standardization),
            weights_col=self.getWeightCol() if self.isDefined(self.weightCol) else None,
            penalty_factor=self.getOrDefault(self.penaltyFactor) if self.isSet(self.penaltyFactor) else None,
            exclude=self.getOrDefault(self.excludeIndices) if self.isSet(self.excludeIndices) else None,
            lower_limits=self.getOrDefault(self.lowerLimit) if self.isSet(self.lowerLimit) else None,
            upper_limits=self.getOrDefault(self.upperLimit) if self.isSet(self.upperLimit) else None,
        )


class _PathGridFit:
    """One path fit serves every CrossValidator grid point that differs
    only in ``s`` — the glmnet trick the module docstring promises: the
    whole lambda path is fitted once per fold and each grid model just
    predicts at its own path point (lambda interpolation for off-path
    s). Heterogeneous grids (alpha, nlambda, ... varying) fall back to
    the default one-fit-per-map behavior. Listed BEFORE Estimator in
    the bases so this fitMultiple wins the MRO."""

    def fitMultiple(self, dataset, paramMaps):
        import threading

        maps = list(paramMaps)
        non_s = [{par.name: v for par, v in pm.items() if par.name != "s"}
                 for pm in maps]
        if len(maps) > 1 and all(d == non_s[0] for d in non_s):
            base_model = self.copy(maps[0])._fit(dataset)
            lock = threading.Lock()
            state = {"i": 0}
            s_param = self.s

            class _SharedPathIter:
                def __iter__(it):
                    return it

                def __next__(it):
                    with lock:
                        i = state["i"]
                        if i >= len(maps):
                            raise StopIteration
                        state["i"] = i + 1
                    m = base_model.copy()
                    if s_param in maps[i]:
                        m._set(s=float(maps[i][s_param]))
                    return i, m

            return _SharedPathIter()
        return super().fitMultiple(dataset, paramMaps)


def _with_features_array(df: DataFrame, features_col: str) -> DataFrame:
    """Project the features column to array<double> under a fixed name."""
    dtype = dict(df.dtypes).get(features_col)
    if dtype is None:
        raise ValueError(f"featuresCol '{features_col}' not in {df.columns}")
    col = vector_to_array(features_col) if dtype == "vector" else F.col(features_col)
    return df.withColumn(_FEATURES_ARR, col.cast("array<double>"))


def _set_params(obj, kwargs):
    for k, v in kwargs.items():
        if not hasattr(obj, k):
            raise TypeError(f"unknown param '{k}'")
        obj._set(**{k: v})


class SgdnetRegressor(_PathGridFit, Estimator, _SgdnetParams, DefaultParamsReadable, DefaultParamsWritable):
    """Elastic-net path regression estimator (gaussian or poisson)."""

    family = Param(Params._dummy(), "family", "gaussian | poisson",
                   typeConverter=TypeConverters.toString)

    def __init__(self, **kwargs):
        super().__init__()
        self._setDefault(family="gaussian")
        _set_params(self, kwargs)

    def _fit(self, dataset: DataFrame) -> "SgdnetRegressionModel":
        fam = self.getOrDefault(self.family)
        if fam not in ("gaussian", "poisson"):
            raise ValueError("SgdnetRegressor family must be gaussian or poisson")
        ds = _with_features_array(dataset, self.getFeaturesCol())
        fit = sgdnet(ds, _FEATURES_ARR, self.getLabelCol(), family=fam,
                     **self._fit_kwargs())
        model = SgdnetRegressionModel(fit)
        model._resetUid(self.uid)
        self._copyValues(model)
        return model


class SgdnetClassifier(_PathGridFit, Estimator, _SgdnetParams, HasProbabilityCol,
                       HasRawPredictionCol, DefaultParamsReadable, DefaultParamsWritable):
    """Elastic-net path classification estimator.

    family='auto' (default) picks binomial for 2 distinct labels,
    multinomial beyond — one tiny distinct-count aggregation, exactly
    what the fit's label scan performs anyway."""

    family = Param(Params._dummy(), "family", "auto | binomial | multinomial",
                   typeConverter=TypeConverters.toString)
    typeMultinomial = Param(Params._dummy(), "typeMultinomial",
                            "ungrouped | grouped multinomial penalty",
                            typeConverter=TypeConverters.toString)

    def __init__(self, **kwargs):
        super().__init__()
        self._setDefault(family="auto", typeMultinomial="ungrouped")
        _set_params(self, kwargs)

    def _fit(self, dataset: DataFrame) -> "SgdnetClassificationModel":
        fam = self.getOrDefault(self.family)
        if fam not in ("auto", "binomial", "multinomial"):
            raise ValueError("SgdnetClassifier family must be auto | binomial | multinomial")
        ds = _with_features_array(dataset, self.getFeaturesCol())
        if fam == "auto":
            k = ds.select(self.getLabelCol()).distinct().count()
            fam = "binomial" if k == 2 else "multinomial"
        kw = self._fit_kwargs()
        if fam == "multinomial":
            kw["type_multinomial"] = self.getOrDefault(self.typeMultinomial)
        fit = sgdnet(ds, _FEATURES_ARR, self.getLabelCol(), family=fam, **kw)
        model = SgdnetClassificationModel(fit)
        model._resetUid(self.uid)
        self._copyValues(model)
        return model


class _SgdnetModelBase(Model, _SgdnetParams):
    def __init__(self, fit: SgdnetFit | None = None):
        super().__init__()
        self.fit = fit

    @property
    def _s(self) -> float:
        s = self.getOrDefault(self.s)
        return float(self.fit.lambdas[-1]) if s < 0 else float(s)

    def _features(self, dataset: DataFrame) -> DataFrame:
        return _with_features_array(dataset, self.getFeaturesCol())

    def save(self, path: str) -> None:
        import json
        import os

        self.fit.save(path)
        with open(os.path.join(path, "ml_params.json"), "w") as fh:
            json.dump({p.name: self.getOrDefault(p) for p in self.params
                       if self.isDefined(p)}, fh)

    @classmethod
    def load(cls, path: str):
        import json
        import os

        model = cls(SgdnetFit.load(path))
        with open(os.path.join(path, "ml_params.json")) as fh:
            _set_params(model, json.load(fh))
        return model


class SgdnetRegressionModel(_SgdnetModelBase):
    """Fitted regression path; transform() predicts at the ``s`` param
    (response scale for poisson — the rate, like type='response')."""

    def _transform(self, dataset: DataFrame) -> DataFrame:
        ds = self._features(dataset)
        ptype = "response" if self.fit.family == "poisson" else "link"
        out = self.fit.predict(ds, s=self._s, type=ptype,
                               prefix=self.getPredictionCol())
        return out.drop(_FEATURES_ARR)


class SgdnetClassificationModel(_SgdnetModelBase, HasProbabilityCol, HasRawPredictionCol):
    """Fitted classification path; transform() appends MLlib-shaped
    columns: prediction (double index into sorted class labels),
    probability (vector, class order), rawPrediction (vector of linear
    predictors)."""

    @property
    def classes(self) -> list[str]:
        return [str(c) for c in (self.fit.classnames or [])]

    def _transform(self, dataset: DataFrame) -> DataFrame:
        ds = self._features(dataset)
        s = self._s
        fit = self.fit
        pred_col = self.getPredictionCol()
        prob_col = self.getOrDefault(self.probabilityCol)
        raw_col = self.getOrDefault(self.rawPredictionCol)
        # rawPrediction carries the LINEAR predictors (its contract):
        # softmax values are per-row normalized, so using them as raw
        # scores changes cross-row rankings for a fixed class; the
        # probability and the class index come from the shared heads
        if fit.family == "binomial":
            out = fit.predict(ds, s=s, type="link", prefix="__eta")
            eta = F.col("__eta")
            (p1,) = response("binomial", [eta])
            out = out.withColumns({
                raw_col: array_to_vector(F.array(-eta, eta)),
                prob_col: array_to_vector(F.array(F.lit(1.0) - p1, p1)),
                pred_col: class_head([eta], [0.0, 1.0]),
            })
            return out.drop(_FEATURES_ARR, "__eta")
        # backticks: MLlib double labels produce class names like "0.0",
        # and an unquoted F.col("__e_0.0") parses the dot as a
        # struct-field access (UNRESOLVED_COLUMN `__e_0`.`0`)
        classes = fit.classnames or []
        out = fit.predict(ds, s=s, type="link", prefix="__e")
        etas = [F.col(f"`__e_{c}`") for c in classes]
        out = out.withColumns({
            prob_col: array_to_vector(F.array(*response("multinomial", etas))),
            raw_col: array_to_vector(F.array(*etas)),
            pred_col: class_head(etas, [float(i) for i in range(len(etas))]),
        })
        return out.drop(_FEATURES_ARR, *[f"__e_{c}" for c in classes])


__all__ = [
    "SgdnetRegressor",
    "SgdnetRegressionModel",
    "SgdnetClassifier",
    "SgdnetClassificationModel",
]
