"""Prediction heads and scoring along the lambda path — reference
R/predict.sgdnet.R and R/score.R.

Every family formula is written once here, as a JVM Column builder over
the link Columns of one lambda: ``response`` (identity, sigmoid, exp or
max-shifted softmax), ``class_head`` (``eta > 0`` for one link, the
first-index argmax for several), and ``clamp_prob``, ``weighted_mean``
and ``_measure`` — one per-lambda aggregate for each (family, measure)
pair in ``MEASURES``.

The links come from one of two places, and everything after them is
shared. Dense rows: ``eta_expr`` over the feature columns
(``SgdnetFit.predict``, ``score``, ``cv._gamma_mse_fold``). Sparse rows:
the link columns that ``sparse._sparse_links`` appends in one nnz-cost
pass (``predict_sparse``, ``score_sparse``). ``prediction_columns``
turns links into a predict call's named output columns;
``score_links`` scores them, all lambdas in ONE ``df.agg`` (path AUC:
one min/max aggregation plus one histogram pass,
``auc_path_distributed``), so only nl- or histogram-sized results reach
the driver. ``score_np`` is the independent numpy reference the tests
compare against.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PROB_MIN = 1e-05  # reference score.R:86
PROB_MAX = 1 - PROB_MIN

# type.measure values per family (reference cv_sgdnet.R "Measures" table);
# deviance is the mse for gaussian and mgaussian
MEASURES = {
    "gaussian": ("deviance", "mse", "mae"),
    "poisson": ("deviance", "mse", "mae"),
    "binomial": ("deviance", "mse", "mae", "class", "auc"),
    "multinomial": ("deviance", "mse", "mae", "class"),
    "mgaussian": ("deviance", "mse", "mae"),
}


def eta_expr(weights: np.ndarray, cols: Sequence[str], offset_col: str | None = None):
    """Intercept-first weight vector -> JVM linear-predictor Column
    (zero coefficients skipped; optional offset column added). The ONE
    dense linear-predictor builder: ``SgdnetFit.predict`` and ``score``
    (through ``path_etas``) and the CV gamma pass ``cv._gamma_mse_fold``
    all build their links here, so offset and zero-coefficient handling
    cannot drift between them."""
    from sgdnet_spark.glm.sgdnet import colref

    e = F.lit(float(weights[0]))
    for w, c in zip(weights[1:], cols):
        if w != 0.0:
            e = e + F.lit(float(w)) * colref(c).cast("double")
    if offset_col is not None:
        e = e + colref(offset_col).cast("double")
    return e


def path_etas(cf: np.ndarray, cols: Sequence[str], offset=None) -> list[list[F.Column]]:
    """Per lambda, the k link Columns of a coefficient array: (p+1, nl)
    for univariate families (k = 1), (k, p+1, nl) for multinomial and
    mgaussian. ``offset`` is one column added to every link, or a
    sequence of one column per class/response (the n×k offset)."""
    cf3 = cf[None] if cf.ndim == 2 else cf
    k = cf3.shape[0]
    offs = [offset] * k if offset is None or isinstance(offset, str) else list(offset)
    return [[eta_expr(cf3[c, :, i], cols, offs[c]) for c in range(k)]
            for i in range(cf3.shape[-1])]


def response(family: str, etas: Sequence[F.Column]) -> list[F.Column]:
    """The k link Columns of one lambda -> its k response Columns:
    sigmoid (binomial), exp (poisson), max-shifted softmax
    (multinomial), identity (gaussian, mgaussian)."""
    if family == "binomial":
        return [F.lit(1.0) / (F.lit(1.0) + F.exp(-etas[0]))]
    if family == "poisson":
        return [F.exp(etas[0])]
    if family != "multinomial":
        return list(etas)
    mx = F.greatest(*etas) if len(etas) > 1 else etas[0]
    exps = [F.exp(e - mx) for e in etas]
    tot = exps[0]
    for e in exps[1:]:
        tot = tot + e
    return [e / tot for e in exps]


def class_head(etas: Sequence[F.Column], labels: Sequence) -> F.Column:
    """The link Columns of one lambda -> the predicted label, a literal
    from ``labels``. One link (binomial): ``labels[1]`` where eta > 0,
    else ``labels[0]``. Several (multinomial): the argmax, ties to the
    FIRST class like numpy's argmax — the structs order on (eta, negated
    index) because a plain (eta, label) order would break ties toward
    the largest label."""
    if len(etas) == 1:
        return F.when(etas[0] > 0, F.lit(labels[1])).otherwise(F.lit(labels[0]))
    best = F.array_max(F.array(*[
        F.struct(e.alias("eta"), F.lit(-i).alias("ni"), F.lit(lab).alias("cls"))
        for i, (e, lab) in enumerate(zip(etas, labels))
    ]))
    return best["cls"]


def prediction_columns(fit, type: str, etas: list[list[F.Column]], prefix: str) -> dict:
    """A predict call's output columns, name -> Column, from its links
    (``etas``: per lambda, the k link Columns). Univariate families give
    one column per lambda, ``prefix_{i}`` (``prefix`` alone for one
    lambda). Multinomial and mgaussian take one lambda and give
    ``prefix_{name}`` per class/response, or one ``prefix`` class
    column. ``type`` is link, response or class."""
    k = len(etas[0])
    labels = [str(c) for c in
              (fit.classnames or fit.response_names or (range(k) if k > 1 else [0, 1]))]
    if type == "class":
        heads = [[class_head(e, labels)] for e in etas]
    else:
        heads = [response(fit.family, e) for e in etas] if type == "response" else etas
    if fit.family in ("multinomial", "mgaussian"):
        (cols,) = heads
        if type == "class":
            return {prefix: cols[0]}
        return {f"{prefix}_{name}": c for name, c in zip(labels, cols)}
    nl = len(heads)
    return {f"{prefix}_{i}" if nl > 1 else prefix: h[0] for i, h in enumerate(heads)}


def clamp_prob(p: F.Column, poison_null: bool = False) -> F.Column:
    """``p`` clamped to [PROB_MIN, PROB_MAX] (reference score.R:86).
    ``poison_null`` maps a NULL ``p`` to NaN AFTER the clamp:
    greatest/least skip NULLs, so the clamp alone would silently score
    it as PROB_MIN, and a NaN fed into least() would come out
    un-poisoned."""
    pc = F.least(F.greatest(p, F.lit(PROB_MIN)), F.lit(PROB_MAX))
    if not poison_null:
        return pc
    return F.when(p.isNull(), F.lit(float("nan"))).otherwise(pc)


def weighted_mean(weights_col: str | None = None):
    """Row-mean aggregate builder: ``F.avg``, or with ``weights_col``
    the weighted mean Σw·t/Σw over the rows whose term t is non-NULL.
    F.sum skips NULL terms in the numerator, so counting their weights
    in the denominator would bias every weighted mean low."""
    if weights_col is None:
        return F.avg
    w = F.col(weights_col).cast("double")
    return lambda t: F.sum(w * t) / F.sum(F.when(t.isNotNull(), w))


def check_measure(family: str, type_measure: str) -> None:
    if type_measure not in MEASURES.get(family, ()):
        raise ValueError(f"unsupported (family={family}, type.measure={type_measure})")


def _auc(y: np.ndarray, prob: np.ndarray) -> float:
    """Mann-Whitney AUC (ties get midranks)."""
    order = np.argsort(prob, kind="mergesort")
    ranks = np.empty(len(prob), dtype=float)
    sorted_p = prob[order]
    i = 0
    r = 1.0
    while i < len(sorted_p):
        j = i
        while j + 1 < len(sorted_p) and sorted_p[j + 1] == sorted_p[i]:
            j += 1
        ranks[order[i : j + 1]] = (r + r + (j - i)) / 2.0
        r += j - i + 1
        i = j + 1
    npos = float(y.sum())
    nneg = float(len(y) - npos)
    if npos == 0 or nneg == 0:
        return float("nan")
    return (ranks[y == 1].sum() - npos * (npos + 1) / 2.0) / (npos * nneg)


def _hist_auc(pos: np.ndarray, n: np.ndarray) -> float:
    """Mann-Whitney AUC from a (bin-sorted) histogram with midranks."""
    neg = n - pos
    npos, nneg = pos.sum(), neg.sum()
    if npos == 0 or nneg == 0:
        return float("nan")
    below = np.concatenate([[0.0], np.cumsum(n)[:-1]])
    midrank = below + (n + 1) / 2.0
    rank_sum = float((midrank * pos).sum())
    return (rank_sum - npos * (npos + 1) / 2.0) / (npos * nneg)


def auc_distributed(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    bins: int = 1 << 16,
) -> float:
    """Histogram AUC: no global sort, one groupBy on the bin id.

    Probabilities are quantized to `bins` buckets; the Mann-Whitney
    statistic is computed exactly on the binned distribution (midranks
    within a bucket), so the approximation error is bounded by the mass
    of heterogeneous buckets — ≤ 1/bins in rank units. The aggregate is
    `bins`-sized regardless of n: the scale path for 100 TB scoring.
    """
    b = F.least(F.floor(F.col(prob_col) * bins), F.lit(bins - 1)).cast("long")
    y = F.col(label_col).cast("double")
    hist = (
        df.select(b.alias("b"), y.alias("y"))
        .groupBy("b")
        .agg(F.sum("y").alias("pos"), F.count("*").alias("n"))
        .orderBy("b")
        .collect()
    )
    pos = np.array([r["pos"] for r in hist], dtype=float)
    n = np.array([r["n"] for r in hist], dtype=float)
    return _hist_auc(pos, n)


def _binomial_y(label_col: str, cls) -> F.Column:
    """0/1 response from the label column, NaN-poisoned for NULL or
    out-of-class values — a bare otherwise(0.0) would silently score
    such rows as genuine negatives while training raises on them."""
    lbl = F.col(label_col)
    return (
        F.when(lbl == F.lit(cls[1]), 1.0)
        .when(lbl == F.lit(cls[0]), 0.0)
        .otherwise(F.lit(float("nan")))
    )


def auc_path_distributed(
    df: DataFrame,
    etas: Sequence[F.Column],
    y: F.Column,
    bins: int = 1 << 13,
) -> np.ndarray:
    """AUC at EVERY lambda in one data pass (reference score.R
    type.measure='auc' along the path), from the binomial link Column
    of each lambda (``etas``) and the 0/1 label Column ``y``.

    Each row explodes to nl (lambda, score-bin) keys; the groupBy's
    map-side combine collapses them to ≤ nl×bins cells per task, so the
    shuffle and the driver see histogram cells, never rows — the
    100 TB-safe replacement for collecting the scoring fold. Scores are
    min-max-normalized per path point before binning (rank-preserving,
    so AUC is unchanged) to keep full bucket resolution even when a
    regularized point's probabilities cluster in a narrow range; the
    residual error is the within-bucket midrank approximation,
    ≤ 1/bins in rank units.
    """
    nl = len(etas)
    # AUC is rank-based, so any strictly increasing transform of the
    # score preserves it — bin the min-max-normalized LINK per path
    # point rather than raw probabilities. A heavily regularized point
    # whose probabilities cluster in a sliver of [0,1] would otherwise
    # collapse into a handful of fixed-width buckets and the midrank
    # tie handling would bias the estimate. One extra tiny aggregation
    # (2·nl cells) buys full bucket resolution at every path point.
    rng = df.agg(*[m for i, e in enumerate(etas) for m in
                   (F.min(e).alias(f"lo{i}"), F.max(e).alias(f"hi{i}"))]).first()
    if rng["lo0"] is None:
        # empty frame or all-NULL predictors: AUC is undefined — return
        # NaN like score_np/_auc rather than TypeError on float(None)
        return np.full(nl, np.nan)
    entries = []
    for i, e in enumerate(etas):
        lo, hi = float(rng[f"lo{i}"]), float(rng[f"hi{i}"])
        span = (hi - lo) if hi > lo else 1.0
        b = F.least(F.floor((e - F.lit(lo)) / F.lit(span) * bins), F.lit(bins - 1)).cast("long")
        b = F.greatest(b, F.lit(0))
        entries.append(F.struct(F.lit(i).alias("li"), b.alias("b")))
    hist = (
        df.select(F.explode(F.array(*entries)).alias("e"), y.alias("y"))
        .groupBy(F.col("e.li").alias("li"), F.col("e.b").alias("b"))
        .agg(F.sum("y").alias("pos"), F.count("*").alias("n"))
        .collect()
    )
    out = np.full(nl, np.nan)
    by_l: dict[int, list] = {}
    for r in hist:
        by_l.setdefault(int(r["li"]), []).append((int(r["b"]), float(r["pos"]), float(r["n"])))
    for li, cells in by_l.items():
        cells.sort()
        pos = np.array([c[1] for c in cells])
        n = np.array([c[2] for c in cells])
        out[li] = _hist_auc(pos, n)
    return out


def score_np(fit, x: np.ndarray, y: np.ndarray, type_measure: str = "deviance", s=None,
             offset: np.ndarray | None = None) -> np.ndarray:
    """Numpy scoring, mirrors score.R per family. ``offset`` is required
    when the fit was trained with offset_col (a fit's deviance/mse is
    meaningless without the training offset in the linear predictor)."""
    fam = fit.family
    if fit.offset and offset is None:
        raise ValueError("need 'offset' since offset was used in fit")
    s_arr = fit.lambdas if s is None else np.atleast_1d(s)
    nl = len(s_arr)

    if fam in ("gaussian",):
        yv = np.asarray(y, dtype=float).reshape(-1)
        eta = fit.predict_np(x, s=s_arr, offset=offset)  # (n, nl)
        diff = eta - yv[:, None]
        if type_measure in ("deviance", "mse"):
            return (diff**2).mean(axis=0)
        if type_measure == "mae":
            return np.abs(diff).mean(axis=0)
    elif fam == "poisson":
        yv = np.asarray(y, dtype=float).reshape(-1)
        mu = fit.predict_np(x, s=s_arr, type="response", offset=offset)  # (n, nl)
        if type_measure == "deviance":
            with np.errstate(divide="ignore", invalid="ignore"):
                ylogy = np.where(
                    yv[:, None] > 0,
                    yv[:, None] * np.log(yv[:, None] / np.maximum(mu, 1e-300)),
                    0.0,
                )
            return (2.0 * (ylogy - (yv[:, None] - mu))).mean(axis=0)
        if type_measure == "mse":
            return ((mu - yv[:, None]) ** 2).mean(axis=0)
        if type_measure == "mae":
            return np.abs(mu - yv[:, None]).mean(axis=0)
    elif fam == "mgaussian":
        yv = np.asarray(y, dtype=float)
        out = np.zeros(nl)
        for i, si in enumerate(s_arr):
            eta = fit.predict_np(x, s=si, offset=offset)[:, :, 0]  # (n, k)
            d = eta - yv
            out[i] = (d**2).sum(axis=1).mean() if type_measure in ("deviance", "mse") else np.abs(d).sum(axis=1).mean()
        return out
    elif fam == "binomial":
        cls = np.asarray(fit.classnames)
        yb = (np.asarray(y).reshape(-1) == cls[1]).astype(float) if y.dtype.kind in "OUS" else np.asarray(y, float).reshape(-1)
        prob = fit.predict_np(x, s=s_arr, type="response", offset=offset)  # (n, nl)
        if type_measure == "auc":
            return np.array([_auc(yb, prob[:, i]) for i in range(nl)])
        if type_measure == "mse":
            # reference score.R:101 two-column form == 2*(p - y)^2 pointwise
            return (((prob - yb[:, None]) ** 2) * 2).mean(axis=0)
        if type_measure == "mae":
            return (np.abs(prob - yb[:, None]) * 2).mean(axis=0)
        if type_measure == "deviance":
            pc = np.clip(prob, PROB_MIN, PROB_MAX)
            lp = yb[:, None] * np.log(pc) + (1 - yb[:, None]) * np.log(1 - pc)
            return (-2 * lp).mean(axis=0)
        if type_measure == "class":
            return ((prob > 0.5) != (yb[:, None] > 0.5)).mean(axis=0)
    elif fam == "multinomial":
        cls = np.asarray(fit.classnames)
        yi = np.searchsorted(cls, np.asarray(y).reshape(-1)) if y.dtype.kind in "OUS" else np.asarray(y, int).reshape(-1)
        onehot = np.eye(len(cls))[yi]
        out = np.zeros(nl)
        for i, si in enumerate(s_arr):
            prob = fit.predict_np(x, s=si, type="response", offset=offset)[:, :, 0]  # (n, k)
            if type_measure == "deviance":
                pc = np.clip(prob, PROB_MIN, PROB_MAX)
                out[i] = (-2 * (onehot * np.log(pc)).sum(axis=1)).mean()
            elif type_measure == "mse":
                out[i] = (((prob - onehot) ** 2).sum(axis=1) * 2).mean() / 2
            elif type_measure == "mae":
                out[i] = (np.abs(prob - onehot).sum(axis=1)).mean()
            elif type_measure == "class":
                out[i] = (prob.argmax(axis=1) != yi).mean()
        return out
    raise ValueError(f"unsupported (family={fam}, type.measure={type_measure})")


def _measure(fam: str, type_measure: str, etas: list[F.Column], y, mean, classes) -> F.Column:
    """One lambda's aggregate for (family, measure) from its k link
    Columns (mirrors score_np). ``y`` is the label: the numeric response
    Column for univariate families (binomial: 0/1, NaN-poisoned), the
    raw label column for multinomial, one Column per response for
    mgaussian. A NULL or out-of-class multinomial label NaN-poisons
    every measure, as ``_binomial_y`` does for binomial."""
    term = _row_term(fam, type_measure, etas, y, classes)
    if fam == "multinomial":
        term = F.when(y.isin(list(classes)), term).otherwise(F.lit(float("nan")))
    return mean(term)


def _row_term(fam: str, type_measure: str, etas: list[F.Column], y, classes) -> F.Column:
    """The per-row term that ``_measure`` averages."""
    if type_measure == "class":
        if fam == "multinomial":
            pred = class_head(etas, [str(c) for c in classes])
            return (pred != y.cast("string")).cast("double")
        miss = (response(fam, etas)[0] > 0.5).cast("double") - y
        return miss * miss
    mu = response(fam, etas)
    if type_measure == "deviance" and fam == "binomial":
        pc = clamp_prob(mu[0])
        return F.lit(-2.0) * (y * F.log(pc) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - pc))
    if type_measure == "deviance" and fam == "poisson":
        ylogy = F.when(y > 0, y * F.log(y / mu[0])).otherwise(F.lit(0.0))
        return F.lit(2.0) * (ylogy - (y - mu[0]))
    if type_measure == "deviance" and fam == "multinomial":
        # -2 log p_trueclass; a NULL link leaves ptrue NULL, poisoned to
        # NaN by the clamp
        ptrue = F.when(y == F.lit(classes[0]), mu[0])
        for c, p in zip(classes[1:], mu[1:]):
            ptrue = ptrue.when(y == F.lit(c), p)
        return F.lit(-2.0) * F.log(clamp_prob(ptrue, poison_null=True))
    # mse, mae, and the gaussian/mgaussian deviance (= mse): per row, the
    # sum over the k responses of (response - target)^2 resp. |.|
    if fam == "multinomial":
        targets = [F.when(y == F.lit(c), 1.0).otherwise(0.0) for c in classes]
    else:
        targets = y if fam == "mgaussian" else [y]
    row = None
    for m, t in zip(mu, targets):
        d = m - t
        term = F.abs(d) if type_measure == "mae" else d * d
        row = term if row is None else row + term
    # binomial: reference score.R:101's two-column form, 2·(p - y)^2
    return row * F.lit(2.0) if fam == "binomial" else row


def score_links(fit, df: DataFrame, etas: list[list[F.Column]], label_col,
                type_measure: str, weights_col: str | None = None) -> np.ndarray:
    """Score the links ``etas`` (per lambda, the k link Columns over
    ``df``) against ``label_col`` — a sequence of response columns for
    mgaussian. Every lambda in ONE ``df.agg``; binomial AUC in the
    path-AUC histogram pass. The measure must be supported
    (``check_measure``)."""
    from sgdnet_spark.glm.sgdnet import colref

    fam = fit.family
    if fam == "binomial":
        y = _binomial_y(label_col, fit.classnames)
    elif fam == "multinomial":
        y = F.col(label_col)
    elif fam == "mgaussian":
        y = [colref(c).cast("double") for c in label_col]
    else:
        y = F.col(label_col).cast("double")
    if type_measure == "auc":
        return auc_path_distributed(df, [e[0] for e in etas], y)
    mean = weighted_mean(weights_col)
    row = df.agg(*[
        _measure(fam, type_measure, e, y, mean, fit.classnames).alias(f"m{i}")
        for i, e in enumerate(etas)
    ]).first()
    return np.array([row[f"m{i}"] for i in range(len(etas))])


def score(
    fit,
    df: DataFrame,
    feature_cols: Sequence[str] | None = None,
    label_col: str | Sequence[str] | None = None,
    type_measure: str = "deviance",
    s=None,
    weights_col: str | None = None,
    offset_col: str | None = None,
) -> np.ndarray:
    """Score on a Spark DataFrame (reference score.R measures): the
    links of every requested lambda come from ``path_etas`` and go
    through ``score_links`` — one distributed aggregation, nothing
    collected to the driver beyond nl- or histogram-sized results.

    ``weights_col`` (glmnet semantics) turns every mean into the
    weighted mean Σw·term/Σw — supported for the gaussian/binomial/
    poisson single-aggregation measures; multinomial, mgaussian and
    path AUC reject it.

    ``offset_col`` mirrors predict()'s ``newoffset``: REQUIRED when the
    fit was trained with offset_col (scoring an offset fit without the
    offset would silently return wrong deviance/mse/mae), added to
    every linear predictor before the link inversion. Multinomial and
    mgaussian take a sequence of one column per class/response."""
    # a STRING feature_cols names a single array<numeric> column (the
    # same convention as sgdnet()): expand to element references at the
    # fit's width — list(str) would split the name into characters
    if isinstance(feature_cols, str):
        cols = [f"{feature_cols}[{i}]" for i in range(len(fit.feature_names))]
    else:
        cols = list(feature_cols) if feature_cols else fit.feature_names
    fam = fit.family
    if getattr(fit, "offset", False) and offset_col is None:
        raise ValueError("need 'offset_col' since offset was used in fit")
    if weights_col is not None and (
        fam in ("multinomial", "mgaussian") or (fam == "binomial" and type_measure == "auc")
    ):
        raise ValueError(
            f"weighted scoring is not supported for (family={fam}, "
            f"type.measure={type_measure})"
        )
    check_measure(fam, type_measure)
    if fam in ("multinomial", "mgaussian"):
        what, names = (("class", fit.classnames) if fam == "multinomial"
                       else ("response", fit.response_names))
        if offset_col is not None and (
            isinstance(offset_col, str) or len(offset_col) != len(names or [])
        ):
            raise ValueError(
                f"{fam} offset_col must be a sequence of one column per {what} {names}"
            )
    if fam == "mgaussian":
        if isinstance(label_col, str):
            raise ValueError(
                "mgaussian label_col must be a sequence of one column per "
                f"response {fit.response_names} (a bare string would be "
                "split into characters)"
            )
        label_col = fit.response_names if label_col is None else list(label_col)
    s_arr = fit.lambdas if s is None else np.atleast_1d(s)
    etas = path_etas(fit.coef(s_arr), cols, offset_col)
    return score_links(fit, df, etas, label_col, type_measure, weights_col)
