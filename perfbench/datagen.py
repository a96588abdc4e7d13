"""Seeded input generators for the GLM workloads.

Every table is a pure function of the seed and the size arguments and is
written with fixed parquet settings, so the same seed gives
byte-identical files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

P_DENSE = 10
P_SPARSE = 2000
NNZ_PER_ROW = 20  # 1% density at P_SPARSE
K_CLASSES = 3
_ROW_GROUP = 64_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=_ROW_GROUP,
                   use_dictionary=False, write_statistics=False)


def dense_frame(rng: np.random.Generator, n: int) -> pa.Table:
    """Tall dense frame: AR(1)-correlated X (rho 0.5), sparse true beta,
    and gaussian, binomial and 3-class labels drawn from it."""
    p = P_DENSE
    rho = 0.5
    cov = rho ** np.abs(np.subtract.outer(np.arange(p), np.arange(p)))
    x = rng.standard_normal((n, p)) @ np.linalg.cholesky(cov).T
    beta = np.zeros(p)
    beta[[0, 2, 5, 7]] = [1.5, -1.0, 0.8, 0.5]
    eta = x @ beta
    y_gauss = eta + rng.standard_normal(n)
    y_bin = (rng.random(n) < 1.0 / (1.0 + np.exp(-eta))).astype(np.int32)
    bm = np.zeros((p, K_CLASSES))
    bm[[0, 1, 4], 0] = [1.0, -0.7, 0.5]
    bm[[2, 3], 1] = [1.2, 0.6]
    bm[[5, 8], 2] = [-0.9, 0.8]
    logits = x @ bm
    prob = np.exp(logits - logits.max(axis=1, keepdims=True))
    prob /= prob.sum(axis=1, keepdims=True)
    u = rng.random(n)[:, None]
    y_multi = (u > np.cumsum(prob, axis=1)).sum(axis=1).astype(np.int32)
    cols = {"rid": np.arange(n, dtype=np.int64)}
    cols.update({f"x{j}": x[:, j] for j in range(p)})
    cols.update(y_gauss=y_gauss, y_bin=y_bin, y_multi=y_multi)
    return pa.table(cols)


def sparse_frame(rng: np.random.Generator, n: int) -> pa.Table:
    """Hashed-feature frame: NNZ_PER_ROW distinct indices per row out of
    P_SPARSE, a 40-feature true support, and a binomial label."""
    idx = np.sort(
        np.argsort(rng.random((n, P_SPARSE)), axis=1)[:, :NNZ_PER_ROW], axis=1
    ).astype(np.int32)
    val = rng.exponential(1.0, (n, NNZ_PER_ROW))
    support = np.arange(0, P_SPARSE, P_SPARSE // 40)
    coef = np.zeros(P_SPARSE)
    coef[support] = np.linspace(-2.0, 2.0, len(support))
    eta = (coef[idx] * val).sum(axis=1)
    y = (rng.random(n) < 1.0 / (1.0 + np.exp(-eta))).astype(np.int32)
    offsets = np.arange(0, (n + 1) * NNZ_PER_ROW, NNZ_PER_ROW, dtype=np.int32)
    return pa.table({
        "idx": pa.ListArray.from_arrays(pa.array(offsets), pa.array(idx.ravel())),
        "val": pa.ListArray.from_arrays(pa.array(offsets), pa.array(val.ravel())),
        "y": y,
    })


def write_glm_inputs(out_dir: str, seed: int, n_dense: int, n_sparse: int):
    """Write the dense and sparse frames for ``seed`` under ``out_dir``;
    returns {name: (path, table)}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x5d6])
    out = {}
    for name, table in (("dense", dense_frame(rng, n_dense)),
                        ("sparse", sparse_frame(rng, n_sparse))):
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(table, path)
        out[name] = (path, table)
    return out


def digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
