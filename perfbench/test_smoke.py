"""Self-test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric named in BENCHMARK.json is emitted with its
unit, that corrupted outputs (a perturbed coefficient, a dropped row) are
counted as failed ops, and that the benchmark refuses to run without the
package it measures. The end-to-end runs start Spark, about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import datagen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "3",
         "--seconds", "1", "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def _expect_metrics(result: dict, key: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert set(result) == {"correct", "attempted", "failed", "metrics"}


@pytest.mark.parametrize("workload,fault,problem", [
    ("glm_local", "coef", "KKT violation"),
    ("glm_spark", "row", "predict column sums"),
])
def test_end_to_end_metrics_and_injected_fault(workload, fault, problem):
    rc, lines = _run("--workload", workload, "--trace", "0", "--inject-fault", fault)
    assert rc == 0
    info, result = json.loads(lines[-2]), json.loads(lines[-1])
    _expect_metrics(result, "end_to_end")
    assert result["correct"] is False and result["failed"] >= 1
    assert any(problem in p for p in info["problems"])


@pytest.mark.parametrize("workload", ["glm_local", "glm_spark"])
def test_traced_run_emits_every_layer_metric(workload):
    rc, lines = _run("--workload", workload, "--trace", "1")
    assert rc == 0
    result = json.loads(lines[-1])
    _expect_metrics(result, "per_layer")
    assert result["correct"] is True, json.loads(lines[-2])["problems"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _run("--workload", "glm_local", "--trace", "0", cwd=str(tmp_path))
    assert rc != 0
    assert lines == []


def _lasso_fit(x, y):
    from sgdnet_spark.glm import path as P
    from sgdnet_spark.glm.providers import LocalXY

    res = P.gaussian_path(LocalXY(x, y), alpha=1.0, nlambda=20)
    return SimpleNamespace(family="gaussian", alpha=1.0, intercept=True,
                           lambdas=res.lambdas, a0=res.a0, beta=res.beta,
                           dev_ratio=res.dev_ratio)


def test_checks_catch_a_perturbed_coefficient():
    table = datagen.dense_frame(np.random.default_rng(0), 2_000)
    x = np.column_stack([table[f"x{j}"].to_numpy() for j in range(datagen.P_DENSE)])
    y = table["y_gauss"].to_numpy()
    fit = _lasso_fit(x, y)
    assert checks.kkt(fit, x, y) == []
    assert checks.dev_ratio_monotone(fit) == []
    fit.beta = fit.beta.copy()
    fit.beta[0, -1] *= 1.05
    assert checks.kkt(fit, x, y)
    fit.dev_ratio = fit.dev_ratio[::-1]
    assert checks.dev_ratio_monotone(fit)


def test_checks_catch_a_dropped_row():
    pred = np.random.default_rng(1).random((500, 3))
    assert checks.close("sums", pred.sum(axis=0), pred.sum(axis=0), 1e-9) == []
    assert checks.close("sums", pred[1:].sum(axis=0), pred.sum(axis=0), 1e-9)


def test_same_seed_gives_byte_identical_files(tmp_path):
    def digest(d, seed):
        out = datagen.write_glm_inputs(str(tmp_path / d), seed, 1_000, 100)
        return datagen.digest([p for p, _ in out.values()])

    assert digest("a", 7) == digest("b", 7) != digest("c", 8)
