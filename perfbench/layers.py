"""The traced run: per-op Spark and CPU metrics, spans around the GLM
layer boundaries, the tracing overhead, and timings of single layers
called directly through their public functions.

Self time of a path driver is its wall time on a prebuilt ``LocalXY``
minus the time spent inside the provider's pass methods, taken from
spans around those methods.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import datagen
import probes
import workloads

REPS_LOCAL = 5
REPS_SPARK = 3


def _median_time(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def _standardized(prov):
    mom = prov.moments_diag()
    std = mom.x_std()
    prov.set_standardization(mom.x_mean,
                             np.where(std > 0, 1.0 / np.where(std > 0, std, 1.0), 0.0))
    return prov


def _sparse_dense_x(table) -> np.ndarray:
    idx = table["idx"].combine_chunks()
    val = table["val"].combine_chunks()
    rows = np.repeat(np.arange(len(idx)), np.diff(idx.offsets.to_numpy()))
    x = np.zeros((len(idx), datagen.P_SPARSE))
    np.add.at(x, (rows, idx.values.to_numpy()), val.values.to_numpy())
    return x


def local_layers(wl) -> dict[str, float]:
    """providers, path and solvers on the driver, on numpy inputs."""
    from sgdnet_spark.glm import path as P
    from sgdnet_spark.glm import solvers as S
    from sgdnet_spark.glm.providers import LocalXY

    args = workloads.FIT_ARGS["glm_local"]
    x, y = wl.x, wl.y
    n, p = x.shape
    k = datagen.K_CLASSES
    y_bin = y["binomial"][:, None]
    y_multi = np.eye(k)[y["multinomial"].astype(int)]
    out = {}

    lb = _standardized(LocalXY(x, y_bin))
    out["providers.irls_binomial_pass_s"] = _median_time(
        lambda: lb.irls_binomial(np.zeros(p), 0.0), REPS_LOCAL)
    lm = _standardized(LocalXY(x, y_multi))
    out["providers.irls_multinomial_pass_s"] = _median_time(
        lambda: lm.irls_multinomial_all(np.zeros((k, p)), np.zeros(k)), REPS_LOCAL)

    x_sp = _sparse_dense_x(wl.sparse_table)
    y_sp = wl.sparse_table["y"].to_numpy().astype(float)[:, None]
    runs = {
        "gaussian": (P.gaussian_path, x, y["gaussian"], args["gaussian"]),
        "binomial": (P.binomial_path, x, y_bin, args["binomial"]),
        "multinomial": (P.multinomial_path, x, y_multi, args["multinomial"]),
        "fista": (P.binomial_path_fista, x_sp, y_sp,
                  {kk: v for kk, v in args["sparse"].items() if kk != "family"}),
    }
    for name, (driver, xx, yy, kw) in runs.items():
        prov = LocalXY(xx, yy)
        spans = probes.Spans()
        spans.install(layers=("providers",))
        try:
            t = time.perf_counter()
            driver(prov, alpha=1.0, **kw)
            wall = time.perf_counter() - t
        finally:
            spans.uninstall()
        out[f"path.{name}_s"] = wall - spans.layer_totals().get("providers", (0.0, 0))[0]

    xs = (x - x.mean(axis=0)) / x.std(axis=0)
    C = xs.T @ xs / n
    b = xs.T @ (y["gaussian"] - y["gaussian"].mean()) / n
    lam = 0.05 * float(np.max(np.abs(b)))
    out["solvers.enet_cd_gram_s"] = _median_time(
        lambda: S.enet_cd_gram(C, b, lam, 1.0, np.zeros(p), tol=1e-7), 20)
    sums = lb.irls_binomial(np.zeros(p), 0.0)[:5]
    out["solvers.wls_enet_cd_s"] = _median_time(
        lambda: S.wls_enet_cd(*sums, n, lam, 1.0, np.zeros(p), 0.0, True), 20)
    return out


def spark_layers(spark, wl) -> dict[str, float]:
    """suffstats and sparse passes as Spark jobs, the driver collect, and
    predict's plan build against its execution."""
    from pyspark.sql import functions as F

    from sgdnet_spark.glm import sparse as SP
    from sgdnet_spark.glm import suffstats as SS
    from sgdnet_spark.glm.providers import SparkXY

    p = datagen.P_DENSE
    k = datagen.K_CLASSES
    out = {}
    xy = SS.assemble(wl.dense, workloads.X_COLS, [F.col("y_bin").cast("double")])
    out["suffstats.moments_s"] = _median_time(lambda: SS.moments_and_gram(xy, p, 1), REPS_SPARK)
    sb = _standardized(SparkXY(xy, p, 1))
    out["suffstats.irls_pass_s"] = _median_time(
        lambda: sb.irls_binomial(np.zeros(p), 0.0), REPS_SPARK)
    xym = SS.assemble(wl.dense, workloads.X_COLS,
                      [(F.col("y_multi") == c).cast("double") for c in range(k)])
    sm = _standardized(SparkXY(xym, p, k))
    out["suffstats.multinomial_pass_s"] = _median_time(
        lambda: sm.irls_multinomial_all(np.zeros((k, p)), np.zeros(k)), REPS_SPARK)
    out["suffstats.collect_s"] = _median_time(
        lambda: SS.collect_xy(xy, p, 1, max_cells=float("inf")), REPS_SPARK)
    out["spark.result_mb"] = len(wl.x) * (p + 1) * 8 / 2**20

    ss = _standardized(SP.SparseSparkXY(SP.assemble_sparse(wl.sparse, "idx", "val", "y"),
                                        datagen.P_SPARSE))
    out["sparse.grad_pass_s"] = _median_time(
        lambda: ss.grad_binomial(np.zeros(datagen.P_SPARSE), 0.0), REPS_SPARK)

    fit = wl.fits["fit_binomial"]
    build, execute = [], []
    for _ in range(REPS_SPARK):
        t = time.perf_counter()
        pred = fit.predict(wl.dense, s=fit.lambdas[::3], type="response")
        agg = pred.agg(*[F.sum(c) for c in pred.columns if c not in wl.dense.columns])
        build.append(time.perf_counter() - t)
        t = time.perf_counter()
        agg.first()
        execute.append(time.perf_counter() - t)
    out["sgdnet.predict_build_s"] = statistics.median(build)
    out["sgdnet.predict_exec_s"] = statistics.median(execute)
    return out


def _wrapper_cost() -> float:
    """Seconds one span wrapper adds to a call, timed on a no-op."""
    spans = probes.Spans()
    noop = spans._wrap("x", "noop", lambda: None)
    n = 20_000
    t = time.perf_counter()
    for _ in range(n):
        noop()
    wrapped = time.perf_counter() - t

    def bare():
        return None

    t = time.perf_counter()
    for _ in range(n):
        bare()
    return max(wrapped - (time.perf_counter() - t), 0.0) / n


def traced(spark, wl, runner, ops, spans_path: str) -> dict[str, float]:
    """One untraced and one traced cycle of the ops, then the layers."""
    metrics: dict[str, float] = {}
    untraced = {op: runner.issue(wl, op, ops[op])[0] for op in workloads.OPS}
    spans = probes.Spans()
    spans.install()
    traced_s = {}
    try:
        for op in workloads.OPS:
            spans.op = op
            with probes.JobGroup(spark, f"perfbench.{op}") as group, probes.CpuSplit() as cpu:
                traced_s[op], out = runner.issue(wl, op, ops[op])
            for key, v in group.metrics().items():
                metrics[f"spark.{op}.{key}"] = v
            for key, v in cpu.seconds.items():
                metrics[f"cpu.{op}.{key}_s"] = v
            if op.startswith("fit_"):
                metrics[f"fit.npasses.{op[4:]}"] = out.npasses if out is not None else -1
    finally:
        spans.uninstall()
    totals = spans.layer_totals()
    for layer in probes.LAYER_TARGETS:
        secs, calls = totals.get(layer, (0.0, 0))
        metrics[f"span.{layer}_s"] = secs
        metrics[f"span.{layer}_calls"] = calls
    spans.dump(spans_path)
    metrics["trace.overhead_pct"] = 100 * (sum(traced_s.values()) / sum(untraced.values()) - 1)
    metrics["trace.wrapper_cost_pct"] = 100 * len(spans.records) * _wrapper_cost() / sum(
        traced_s.values())

    metrics.update(local_layers(wl))
    metrics.update(spark_layers(spark, wl))
    from pyspark import SparkContext

    metrics["mem.jvm_peak_rss_mb"] = probes.peak_rss_mb(SparkContext._gateway.proc.pid)
    metrics["mem.driver_peak_rss_mb"] = probes.peak_rss_mb()
    return metrics
