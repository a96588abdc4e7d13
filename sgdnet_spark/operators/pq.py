"""Product-quantization (PQ) vector compression + IVF-PQ ANN search.

The canonical 100 TB vector-search design (Jégou, Douze, Schmid 2011,
"Product Quantization for Nearest Neighbor Search"; the FAISS IVFPQ
index): vectors are L2-normalized, split into ``m`` subspaces, and each
subvector is quantized to one of ``ksub`` learned sub-centroids — a
``dim`` float vector becomes ``m`` small integer codes (64 float32 →
8 codes here: 32× compression), so a 100 TB embedding corpus scans as
~3 TB of codes. Query-time scoring is ADC (asymmetric distance
computation): per query ONE (m × ksub) table of subspace inner
products, then each candidate's approximate cosine is m table lookups —
no float vector is touched until the final exact re-rank of the small
candidate set (the candidates + exact-verify shape of
sketch_prefilter / dedup_minhash_lsh).

Spark shapes, mirroring ivf.py's sufficient-statistic discipline:

- ``pq_fit`` trains ALL m subquantizers in one mapInPandas pass per
  Lloyd iteration — partials are (m, ksub, dsub+1)-sized, independent
  of n; init is deterministic (first ksub vectors by id, split per
  subspace).
- ``pq_encode`` is a pure per-row Arrow map, zero shuffle.
- ``ivfpq_topk`` probes only ``nprobe`` inverted lists (the ivf.py
  coarse quantizer), ADC-scores codes against the probe relation,
  keeps ``k·refine`` candidates per query, and re-ranks just those
  against the true vectors — work scales with nprobe/n_lists of the
  corpus read as CODES, plus a candidate-sized exact pass.
- Query handling is TWO-PATH (round 11, mirroring
  similarity.brute_force_topk): a bounded ``limit(max_inline_queries+1)``
  collect decides the branch; small query sets build the probe relation
  driver-side and broadcast it, larger sets build it EXECUTOR-side
  (``_probe_relations``: one Arrow pass over the query frame with the
  model in the closure, the per-query ADC table normalized into its own
  ``(query_id, qtab)`` relation so it is not duplicated per probed
  list) with join strategies left to Catalyst/AQE. No unbounded driver
  collect anywhere; both paths are bit-identical (tests/test_pq.py).

Normalization makes L2 and cosine orderings coincide, so ADC inner
products rank candidates for the cosine metric the rest of the ANN
tier reports; the exact re-rank then restores true cosine values, so
returned rows differ from brute force only in WHICH neighbors survive
candidate selection (recall floors pinned in tests/test_pq.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sgdnet_spark.operators.ivf import (
    _collect_queries_bounded,
    _collect_vec,
    _nearest_lists_np,
    _vec_frame,
    kmeans_fit,
)


def _normalize(V: np.ndarray) -> np.ndarray:
    return V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)


def pq_fit(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Train the m sub-quantizers; returns (m, ksub, dim/m) codebooks.

    One narrow mapInPandas pass per Lloyd iteration accumulates every
    subspace's (count, sum) partials at once — (m, ksub, dsub+1) per
    partition, flat in n. Vectors are L2-normalized before training so
    codebooks live on the unit sphere the search operates on.
    """
    init = _collect_vec(df, id_col, vec_col, ksub)
    if len(init) == 0:
        raise ValueError("pq_fit: empty input")
    dim = init.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    dsub = dim // m
    ksub = min(ksub, len(init))
    # (m, ksub, dsub): subspace s of codebook entry j = init vector j's s-th slice
    books = _normalize(init)[:ksub].reshape(ksub, m, dsub).transpose(1, 0, 2).copy()
    vecs = _vec_frame(df, vec_col)

    for _ in range(iters):
        b_bc = books

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc = np.zeros((m, ksub, dsub + 1))
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = _normalize(np.stack(pdf["v"].to_numpy())).reshape(-1, m, dsub)
                for s in range(m):
                    X = V[:, s, :]
                    d2 = (X**2).sum(1)[:, None] - 2 * X @ b_bc[s].T + (b_bc[s] ** 2).sum(1)[None, :]
                    a = d2.argmin(1)
                    for c in range(ksub):
                        sel = X[a == c]
                        if len(sel):
                            acc[s, c, 0] += len(sel)
                            acc[s, c, 1:] += sel.sum(0)
            yield pd.DataFrame({"part": [acc.ravel().tolist()]})

        parts = vecs.mapInPandas(run, schema="part array<double>").collect()
        tot = np.sum([np.asarray(r["part"]).reshape(m, ksub, dsub + 1) for r in parts], axis=0)
        counts = tot[:, :, :1]
        new = np.where(counts > 0, tot[:, :, 1:] / np.maximum(counts, 1), books)
        if np.allclose(new, books, atol=1e-12):
            break
        books = new
    return books


def pq_fit_residual(
    df: DataFrame,
    cents: np.ndarray,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Train the m sub-quantizers on COARSE RESIDUALS r = v̂ − c_assign
    (Jégou et al. §IV-A; FAISS ``by_residual``): after the coarse
    quantizer explains a vector's position, PQ only has to encode the
    displacement inside its cell — a far tighter distribution than the
    whole sphere, so the same m·log2(ksub) bits buy a smaller
    quantization error and better candidate recall. ``cents`` is the
    NORMALIZED-space coarse quantizer (kmeans_fit(normalize=True)) —
    assignments here must match encode/search assignments exactly.

    Same sufficient-statistic shape as :func:`pq_fit`: one narrow pass
    per Lloyd iteration, (m, ksub, dsub+1) partials, flat in n; init is
    deterministic (the first ksub vectors' residuals, split per
    subspace). Cannot fuse with the coarse fit (residuals depend on the
    finished coarse model), so a residual build pays coarse + PQ passes
    sequentially — the recall/build-cost trade is the caller's
    ``residual=`` knob."""
    init = _collect_vec(df, id_col, vec_col, ksub)
    if len(init) == 0:
        raise ValueError("pq_fit_residual: empty input")
    dim = init.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_fit_residual: dim {dim} not divisible by m={m}")
    dsub = dim // m
    ksub = min(ksub, len(init))
    Vn0 = _normalize(init)
    d20 = (Vn0**2).sum(1)[:, None] - 2 * Vn0 @ cents.T + (cents**2).sum(1)[None, :]
    R0 = Vn0 - cents[d20.argmin(1)]
    books = R0[:ksub].reshape(ksub, m, dsub).transpose(1, 0, 2).copy()
    vecs = _vec_frame(df, vec_col)

    for _ in range(iters):
        b_bc = books

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc = np.zeros((m, ksub, dsub + 1))
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Vn = _normalize(np.stack(pdf["v"].to_numpy()))
                d2 = (
                    (Vn**2).sum(1)[:, None] - 2 * Vn @ cents.T + (cents**2).sum(1)[None, :]
                )
                R = (Vn - cents[d2.argmin(1)]).reshape(-1, m, dsub)
                for s in range(m):
                    X = R[:, s, :]
                    d2s = (
                        (X**2).sum(1)[:, None]
                        - 2 * X @ b_bc[s].T
                        + (b_bc[s] ** 2).sum(1)[None, :]
                    )
                    a = d2s.argmin(1)
                    for c in range(ksub):
                        sel = X[a == c]
                        if len(sel):
                            acc[s, c, 0] += len(sel)
                            acc[s, c, 1:] += sel.sum(0)
            yield pd.DataFrame({"part": [acc.ravel().tolist()]})

        parts = vecs.mapInPandas(run, schema="part array<double>").collect()
        tot = np.sum(
            [np.asarray(r["part"]).reshape(m, ksub, dsub + 1) for r in parts], axis=0
        )
        counts = tot[:, :, :1]
        new = np.where(counts > 0, tot[:, :, 1:] / np.maximum(counts, 1), books)
        if np.allclose(new, books, atol=1e-12):
            break
        books = new
    return books


def opq_fit_rotation(
    df: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Fit the OPQ rotation (parametric / eigenvalue-allocation variant
    of Ge et al., CVPR 2013 "Optimized Product Quantization"): rotate
    the space so the m PQ subspaces carry BALANCED variance — PQ's
    independence assumption costs the most when one subspace holds all
    the energy and the rest quantize noise.

    Fit shape: ONE mapInPandas moments pass over the L2-normalized
    vectors accumulating per-partition (count, Σ v̂v̂ᵀ) partials —
    (dim² + 1)-sized, flat in n, the whiten.py sufficient-statistic
    discipline — reduced driver-side, then a dim×dim ``eigh``
    (micro-seconds) + a greedy eigenvalue allocation: eigen-directions
    (λ descending) assign one at a time to the subspace with the
    smallest current log-variance product, capacity dim/m each — the
    parametric solution balancing Π λ across subspaces. The rotation's
    rows are the allocated eigenvectors, so y = R·v̂ groups balanced
    components into PQ's contiguous slices.

    The second moment is UNCENTERED (about the origin, not the mean):
    the rotation must be purely orthogonal — y·y' = v·v' exactly — so
    cosine ranking, the exact re-rank, and every returned value are
    unchanged; only CANDIDATE SELECTION quality improves. Eigenvector
    signs fix deterministically (largest-|entry| coordinate positive,
    the whiten.py convention), so the fit is reproducible."""
    vecs = _vec_frame(df, vec_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n, ss = 0, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _normalize(np.stack(pdf["v"].to_numpy()).astype(np.float64))
            n += len(V)
            ss = V.T @ V if ss is None else ss + V.T @ V
        if n == 0:
            return
        yield pd.DataFrame({"part": [np.concatenate(([float(n)], ss.ravel())).tolist()]})

    parts = vecs.mapInPandas(run, schema="part array<double>").collect()
    if not parts:
        raise ValueError("opq_fit_rotation: empty input")
    tot = np.sum([np.asarray(r["part"]) for r in parts], axis=0)
    n = tot[0]
    dim = int(round(np.sqrt(len(tot) - 1)))
    if dim % m != 0:
        raise ValueError(f"opq_fit_rotation: dim {dim} not divisible by m={m}")
    s2 = tot[1:].reshape(dim, dim) / n
    lam, vec = np.linalg.eigh(s2)
    order = np.argsort(lam)[::-1]
    lam, vec = lam[order], vec[:, order]
    for j in range(dim):
        i = int(np.argmax(np.abs(vec[:, j])))
        if vec[i, j] < 0:
            vec[:, j] = -vec[:, j]
    alloc = _alloc_eigendims(lam, m)
    # rows of R: subspace s's slice = its allocated eigenvectors
    return vec[:, np.concatenate(alloc)].T.copy()


def _alloc_eigendims(lam: np.ndarray, m: int) -> list:
    """Greedy balanced-variance-product allocation: eigen-dims (λ
    descending) go to the subspace with the smallest current Σ log λ,
    capacity dim/m each. Deterministic: ties break to the lowest
    subspace index. Returns m index arrays (each λ-descending)."""
    dim = len(lam)
    dsub = dim // m
    logs = np.log(np.maximum(lam, 1e-300))
    buckets: list = [[] for _ in range(m)]
    loads = np.zeros(m)
    for j in range(dim):
        open_ = [s for s in range(m) if len(buckets[s]) < dsub]
        s = min(open_, key=lambda i: (loads[i], i))
        buckets[s].append(j)
        loads[s] += logs[j]
    return [np.asarray(b, dtype=np.int64) for b in buckets]


def _rotate_rows(Q: np.ndarray, rot: np.ndarray) -> np.ndarray:
    """Per-row gemv rotation for the parity-critical query paths — the
    driver and executor branches must produce bit-identical rotated
    queries (a batch gemm's reduction order can differ in the last
    bit; the residual bias comment's rationale)."""
    return np.stack([rot @ q for q in Q])


def _rotated_frame(df: DataFrame, rot: np.ndarray, vec_col: str, id_col: str) -> DataFrame:
    """(id, v) with v rotated — the TRAINING view of an OPQ corpus (the
    existing fits then run unchanged in the rotated space). Encoding /
    probing rotate inside their own Arrow passes instead (no second
    materialized corpus)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            yield pd.DataFrame({"id": pdf["id"], "v": list(V @ rot.T)})

    base = _vec_frame(df, vec_col, id_col)
    id_type = df.schema[id_col].dataType.simpleString()
    return base.mapInPandas(run, schema=f"id {id_type}, v array<double>")


def kmeans_pq_fit(
    df: DataFrame,
    k: int = 8,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[np.ndarray, np.ndarray]:
    """Train the coarse quantizer AND all m sub-quantizers in ONE
    mapInPandas pass per Lloyd iteration — (k, dim+1) + (m, ksub,
    dsub+1) partials ride the same scan. The two trainings are
    independent (the coarse quantizer assigns raw vectors; PQ trains on
    the L2-normalized subspaces, NOT residuals), so fusing them halves
    the training passes of an IVF-PQ build — and a caller that also
    needs a standalone IVF model (the ann_approx entry) reuses the same
    ``cents``, collapsing 15 iteration passes to 5.

    BIT-PARITY with the standalone fits is part of the contract (the
    golden-constant oracles depend on it, asserted in tests/test_pq.py):
    identical inits (first-by-id collect, sliced for each quantizer),
    identical per-quantizer distance/update arithmetic, identical
    driver-side partial reduction in partition order, and per-quantizer
    convergence freezing — once a quantizer's allclose fires its model
    stops updating (exactly where its standalone loop would have
    break-ed) while the other keeps training on the shared pass.
    """
    init = _collect_vec(df, id_col, vec_col, max(k, ksub))
    if len(init) == 0:
        raise ValueError("kmeans_pq_fit: empty input")
    dim = init.shape[1]
    if dim % m != 0:
        raise ValueError(f"kmeans_pq_fit: dim {dim} not divisible by m={m}")
    dsub = dim // m
    k = min(k, len(init))
    ksub = min(ksub, len(init))
    cents = init[:k].copy()
    books = _normalize(init)[:ksub].reshape(ksub, m, dsub).transpose(1, 0, 2).copy()
    vecs = _vec_frame(df, vec_col)
    done_c = done_b = False
    nc, nb = k * (dim + 1), m * ksub * (dsub + 1)

    for _ in range(iters):
        if done_c and done_b:
            break
        c_bc, b_bc = cents, books
        dc, db = done_c, done_b

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc_c = np.zeros((k, dim + 1))
            acc_b = np.zeros((m, ksub, dsub + 1))
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf["v"].to_numpy())
                if not dc:
                    # identical arithmetic to ivf.kmeans_fit's pass
                    d2 = (
                        (V**2).sum(1)[:, None] - 2 * V @ c_bc.T + (c_bc**2).sum(1)[None, :]
                    )
                    a = d2.argmin(1)
                    for c in range(k):
                        sel = V[a == c]
                        if len(sel):
                            acc_c[c, 0] += len(sel)
                            acc_c[c, 1:] += sel.sum(0)
                if not db:
                    # identical arithmetic to pq_fit's pass
                    Vn = _normalize(V).reshape(-1, m, dsub)
                    for s in range(m):
                        X = Vn[:, s, :]
                        d2s = (
                            (X**2).sum(1)[:, None]
                            - 2 * X @ b_bc[s].T
                            + (b_bc[s] ** 2).sum(1)[None, :]
                        )
                        a = d2s.argmin(1)
                        for c in range(ksub):
                            sel = X[a == c]
                            if len(sel):
                                acc_b[s, c, 0] += len(sel)
                                acc_b[s, c, 1:] += sel.sum(0)
            yield pd.DataFrame(
                {"part": [np.concatenate([acc_c.ravel(), acc_b.ravel()]).tolist()]}
            )

        parts = vecs.mapInPandas(run, schema="part array<double>").collect()
        flat = np.sum([np.asarray(r["part"]) for r in parts], axis=0)
        if not done_c:
            tot_c = flat[:nc].reshape(k, dim + 1)
            counts = tot_c[:, 0]
            new_c = np.where(
                counts[:, None] > 0, tot_c[:, 1:] / np.maximum(counts[:, None], 1), cents
            )
            if np.allclose(new_c, cents, atol=1e-12):
                done_c = True
            else:
                cents = new_c
        if not done_b:
            tot_b = flat[nc : nc + nb].reshape(m, ksub, dsub + 1)
            counts_b = tot_b[:, :, :1]
            new_b = np.where(
                counts_b > 0, tot_b[:, :, 1:] / np.maximum(counts_b, 1), books
            )
            if np.allclose(new_b, books, atol=1e-12):
                done_b = True
            else:
                books = new_b
    return cents, books


def encode_np(V: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Codes for already-normalized (n, dim) vectors; (n, m) int64."""
    m, _, dsub = books.shape
    Vs = V.reshape(-1, m, dsub)
    codes = np.empty((len(V), m), dtype=np.int64)
    for s in range(m):
        X = Vs[:, s, :]
        d2 = (X**2).sum(1)[:, None] - 2 * X @ books[s].T + (books[s] ** 2).sum(1)[None, :]
        codes[:, s] = d2.argmin(1)
    return codes


def pq_encode(
    df: DataFrame,
    books: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, code array<int>) — the compressed corpus. Pure Arrow map."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _normalize(np.stack(pdf["v"].to_numpy()))
            codes = encode_np(V, books)
            yield pd.DataFrame({"id": pdf["id"], "code": list(codes)})

    return _vec_frame(df, vec_col, id_col).mapInPandas(run, schema="id long, code array<bigint>")


def adc_tables(Q: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Per-query (m, ksub) inner-product lookup tables, flattened to
    (nq, m·ksub): approx cos(q, v) = Σ_s table[s, code_s]."""
    m, ksub, dsub = books.shape
    Qn = _normalize(Q).reshape(-1, m, dsub)
    return np.einsum("qsd,skd->qsk", Qn, books).reshape(len(Q), m * ksub)


def _assign_encode(
    df: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    vec_col: str,
    id_col: str,
    keep_v: bool = False,
    meta_cols: list[str] | None = None,
    residual: bool = False,
    rot: np.ndarray | None = None,
) -> DataFrame:
    """(id, list_id, code[, v][, *meta]) — coarse assignment AND PQ
    encoding in ONE Arrow pass over the corpus (a separate assign →
    encode chain would run two Python passes for one logical map).
    ``meta_cols`` pass attribute columns (language, source, label …)
    through unchanged, so a written index can serve METADATA-FILTERED
    probes with the predicate pushed into the parquet scan.
    ``residual`` encodes v̂ − c_assign against residual codebooks in the
    normalized space (cents must be the normalize=True coarse model).
    ``rot`` (OPQ) rotates vectors before assignment/encoding — the
    quantizers live in the rotated space; ``keep_v`` still stores the
    RAW vector (the exact re-rank runs in the original space, where
    cosines are identical by orthogonality)."""
    meta_cols = meta_cols or []

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy())
            if rot is not None:
                V = V.astype(np.float64) @ rot.T
            if residual:
                Vn = _normalize(V)
                d2 = (
                    (Vn**2).sum(1)[:, None] - 2 * Vn @ cents.T + (cents**2).sum(1)[None, :]
                )
                lists = d2.argmin(1)
                code = list(encode_np(Vn - cents[lists], books))
            else:
                d2 = (
                    (V**2).sum(1)[:, None] - 2 * V @ cents.T + (cents**2).sum(1)[None, :]
                )
                lists = d2.argmin(1)
                code = list(encode_np(_normalize(V), books))
            out = {
                "id": pdf["id"],
                "list_id": lists.astype(np.int64),
                "code": code,
            }
            if keep_v:
                out["v"] = pdf["v"]
            for c in meta_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = "id long, list_id long, code array<bigint>" + (
        ", v array<double>" if keep_v else ""
    )
    for c in meta_cols:
        schema += f", {c} {df.schema[c].dataType.simpleString()}"
    if meta_cols:
        # in-row projection (NOT a join back by id): meta rides the same
        # scan, zero extra shuffle
        base = df.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            *meta_cols,
        )
    else:
        base = _vec_frame(df, vec_col, id_col)
    return base.mapInPandas(run, schema=schema)


def _collect_queries(
    queries: DataFrame, vec_col: str, id_col: str, limit: int | None = None
) -> list:
    """Non-NULL query rows for the driver-side probe path; ``limit``
    bounds the collect (the brute_force_topk ``limit(max+1)`` recipe)
    so the branch decision between the driver and distributed paths
    never materializes a large query relation on the driver. Callers
    deciding the branch must use :func:`_collect_queries_bounded`,
    which also reports whether the limit truncated the RAW row set —
    NULL-vector rows count against the limit, so a filtered length
    under the cap does not by itself prove every query was seen (the
    shared bounded-collect helper lives in ivf.py)."""
    rows, _ = _collect_queries_bounded(queries, vec_col, id_col, limit)
    return rows


def _probe_frame(
    spark, q_rows, cents: np.ndarray, books: np.ndarray, nprobe: int,
    residual: bool = False,
    rot: np.ndarray | None = None,
):
    """Broadcast (query_id, probed list, bias, flattened ADC table)
    relation + the set of probed list ids (for partition pruning). The
    DRIVER path — used only for small, bounded query sets (see
    ``max_inline_queries``); large sets take ``_probe_relations``.

    ``bias`` is the residual decomposition's per-(query, list) constant
    q̂·c_l (approx ip = q̂·c_l + q̂·r, the FAISS by_residual ADC shape);
    0.0 in the plain path — adding it is a float no-op, so one scoring
    code path serves both modes. In residual mode both the probed-list
    selection and the bias use the NORMALIZED query (the space the
    coarse quantizer was trained in). ``rot`` (OPQ) rotates queries
    into the quantizers' space — per-row gemv, so the driver and
    executor paths stay bit-identical."""
    Q = np.asarray([r["qv"] for r in q_rows], dtype=np.float64)
    if rot is not None:
        Q = _rotate_rows(Q, rot)
    tabs = adc_tables(Q, books)
    Qn = _normalize(Q) if residual else Q
    probe_rows, probed = [], set()
    for i, r in enumerate(q_rows):
        d2 = ((cents - Qn[i]) ** 2).sum(1)
        # gemv, one row at a time — the executor path computes the same
        # per-row product so both paths stay bit-identical
        bias_vec = Qn[i] @ cents.T if residual else None
        for lid in np.argsort(d2)[:nprobe]:
            b = float(bias_vec[lid]) if residual else 0.0
            probe_rows.append(
                (int(r["qid"]), int(lid), b, [float(x) for x in tabs[i]])
            )
            probed.add(int(lid))
    return (
        spark.createDataFrame(
            probe_rows, "query_id long, list_id long, bias double, qtab array<double>"
        ),
        probed,
    )


def _probe_relations(
    queries: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    nprobe: int,
    vec_col: str,
    id_col: str,
    residual: bool = False,
    rot: np.ndarray | None = None,
) -> DataFrame:
    """Executor-side probe construction — the DISTRIBUTED query path.

    ONE Arrow pass over the query frame (centroids + codebooks ride the
    task closure: (n_lists + m·ksub)·dim doubles, model-sized) emits
    one row per query — its ``nprobe`` probed lists as an array next to
    its flattened ADC table — so the (m·ksub)-double table is stored
    once per query, never per probed list. Callers derive the per-list
    probe relation with a fused in-row ``explode`` (no self-join of
    the query frame; a normalized probes⋈qtabs pair would re-form the
    same relation through an extra shuffle). No query row ever reaches
    the driver, so the SemDeDup-style everything-queries-everything
    shape runs without driver memory entering the picture.

    Float parity with the driver path is exact: per-query centroid
    distances are computed as ``((cents − q)²).sum(axis)`` with the same
    reduction order numpy uses in ``_probe_frame``, and ADC tables come
    from the same ``adc_tables`` einsum — so both paths pick identical
    lists and identical scores, and results are bit-equal (asserted in
    tests/test_pq.py)."""
    id_type = queries.schema[id_col].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            if rot is not None:
                # per-row gemv — bit-identical to _probe_frame's rotation
                Q = _rotate_rows(Q, rot)
            tabs = adc_tables(Q, books)
            Qn = _normalize(Q) if residual else Q
            # _nearest_lists_np keeps the driver path's per-(q, c)
            # subtract-square-sum reduction order (the expanded form
            # Q² − 2QC + C² differs in float) and bounds the distance
            # intermediate — shared with the IVF distributed path
            lists = _nearest_lists_np(Qn, cents, nprobe)
            if residual:
                # per-row gemv, matching _probe_frame's product exactly
                # (a batch gemm could differ in the last bit)
                biases = [
                    [float(x) for x in (Qn[i] @ cents.T)[lists[i]]]
                    for i in range(len(Qn))
                ]
            else:
                biases = [[0.0] * lists.shape[1]] * len(Qn)
            yield pd.DataFrame(
                {
                    "query_id": pdf["id"],
                    "lists": list(lists),
                    "biases": biases,
                    "qtab": list(tabs),
                }
            )

    return _vec_frame(queries, vec_col, id_col).mapInPandas(
        run,
        schema=(
            f"query_id {id_type}, lists array<bigint>, "
            "biases array<double>, qtab array<double>"
        ),
    )


def _explode_probes(base: DataFrame, payload: str) -> DataFrame:
    """(query_id, list_id, bias, <payload>) from the per-query probe
    frame — a pure in-row zip-explode, one scan, zero joins (the bias
    array is positionally aligned with the probed-list array)."""
    z = base.select(
        "query_id",
        F.explode(F.arrays_zip("lists", "biases")).alias("lb"),
        payload,
    )
    return z.select(
        "query_id",
        F.col("lb.lists").alias("list_id"),
        F.col("lb.biases").alias("bias"),
        payload,
    )


def _adc_candidates(
    coded: DataFrame,
    probes: DataFrame,
    m: int,
    ksub: int,
    pool: int,
    hint_broadcast: bool = True,
) -> DataFrame:
    """Per-query top-``pool`` candidate ids by ADC score: one Arrow pass
    over the probed lists' CODES, m table lookups per candidate.
    ``hint_broadcast=False`` (the distributed-query path) leaves the
    join strategy to Catalyst/AQE — a large probe relation must not be
    forced onto every executor."""
    p = F.broadcast(probes) if hint_broadcast else probes
    joined = coded.join(p, "list_id").filter(F.col("id") != F.col("query_id"))

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf["code"].to_numpy())  # (n, m)
            T = np.stack(pdf["qtab"].to_numpy())  # (n, m*ksub)
            idx = C + ksub * np.arange(m)[None, :]
            # bias = q̂·c_list in residual mode (0.0 plain — a float
            # no-op, one code path for both)
            approx = pdf["bias"].to_numpy() + np.take_along_axis(T, idx, axis=1).sum(1)
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "nbr_id": pdf["id"], "approx": approx}
            )

    scored = joined.mapInPandas(adc, schema="query_id long, nbr_id long, approx double")
    w = Window.partitionBy("query_id").orderBy(F.desc("approx"), F.asc("nbr_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= pool)
        .select("query_id", "nbr_id")
    )


def _pool_join(
    base: DataFrame,
    cands: DataFrame,
    qdf: DataFrame,
    cols: list,
    hint_broadcast: bool = True,
) -> DataFrame:
    """Candidate-pool vector join, shared by the PQ exact re-rank and
    MMR: with ``hint_broadcast`` the pool-sized candidate and query
    relations broadcast and the corpus vector scan stays shuffle-free;
    without (large query sets) Catalyst/AQE picks the strategy."""
    c = F.broadcast(cands) if hint_broadcast else cands
    q = F.broadcast(qdf) if hint_broadcast else qdf
    return (
        base.join(c, base["id"] == cands["nbr_id"])
        .join(q, "query_id")
        .select(*cols)
    )


def _exact_rerank(
    base: DataFrame,
    cands: DataFrame,
    q_rows,
    k_neighbors: int,
    with_rank: bool = False,
) -> DataFrame:
    """Driver-path wrapper over :func:`_exact_rerank_df` for an
    already-collected small query set."""
    spark = base.sparkSession
    qdf = spark.createDataFrame(
        [(int(r["qid"]), [float(x) for x in r["qv"]]) for r in q_rows],
        "query_id long, qv array<double>",
    )
    return _exact_rerank_df(base, cands, qdf, k_neighbors, with_rank=with_rank)


def _exact_rerank_df(
    base: DataFrame,
    cands: DataFrame,
    qdf: DataFrame,
    k_neighbors: int,
    hint_broadcast: bool = True,
    with_rank: bool = False,
) -> DataFrame:
    """Exact cosine over the (nq·pool)-sized candidate set — candidate
    ids and query vectors join against the corpus vectors (broadcast
    for small query sets); quantization error cannot reach the
    returned values. ``with_rank`` appends the 1-based ``rn`` decided
    on the UNROUNDED cosine (rank-fusion consumers — the
    brute_force_topk convention)."""
    pairs = _pool_join(base, cands, qdf, ["query_id", "id", "v", "qv"], hint_broadcast)

    def exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy())
            Qv = np.stack(pdf["qv"].to_numpy())
            cos = (V * Qv).sum(1) / (
                np.maximum(np.linalg.norm(V, axis=1), 1e-300)
                * np.maximum(np.linalg.norm(Qv, axis=1), 1e-300)
            )
            yield pd.DataFrame({"query_id": pdf["query_id"], "nbr_id": pdf["id"], "cos": cos})

    exact_df = pairs.mapInPandas(exact, schema="query_id long, nbr_id long, cos double")
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    out_cols = ["query_id", "nbr_id", F.round("cos", 4).alias("cos")]
    if with_rank:
        out_cols.append("rn")
    return (
        exact_df.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k_neighbors)
        .select(*out_cols)
    )


def _train_frame(df: DataFrame, train_frac: float | None, id_col: str) -> DataFrame:
    """Deterministic md5-fraction training sample (the sampling.py
    recipe): quantizer TRAINING is statistics estimation, so at 100 TB
    it runs on a hash-sample instead of scanning the corpus once per
    Lloyd iteration — FAISS's train-on-subsample convention. Encoding /
    search still cover every vector. Reproducible and
    partitioning-independent by construction."""
    if train_frac is None:
        return df
    if not 0.0 < train_frac <= 1.0:
        raise ValueError(f"train_frac must be in (0, 1], got {train_frac}")
    if train_frac == 1.0:
        return df
    from sgdnet_spark.operators.sampling import hash_fraction

    return df.filter(hash_fraction(id_col, "pqtrain") < F.lit(float(train_frac)))


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    k_neighbors: int = 5,
    n_lists: int = 8,
    nprobe: int = 3,
    m: int = 8,
    ksub: int = 16,
    refine: int = 10,
    kmeans_iters: int = 5,
    train_frac: float | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_inline_queries: int = 64,
    with_rank: bool = False,
    model: tuple[np.ndarray, np.ndarray] | None = None,
    residual: bool = False,
    opq: bool = False,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Approximate cosine top-k over PQ codes with exact re-rank.

    ``opq=True`` (round 13) fits an OPQ rotation first
    (:func:`opq_fit_rotation` — one moments pass + eigenvalue
    allocation) and trains/encodes/probes in the rotated space; the
    exact re-rank stays in the ORIGINAL space (rotation is orthogonal,
    cosines identical), so only candidate recall improves. Composes
    with ``residual=True`` (rotate → coarse → residual-PQ, the FAISS
    OPQ+IVFPQ stack). ``rotation`` passes a prefitted matrix (with
    ``model`` — the three fits then all skip).
    ``with_rank`` appends ``rn`` (1-based, decided on the unrounded
    cosine) so the output can feed :func:`fusion.rrf_fuse` directly.
    ``model`` passes a pretrained (cents, books) pair — e.g. from ONE
    :func:`kmeans_pq_fit` shared with an IVF consumer — skipping both
    trainings (and ``n_lists``/``m``/``ksub``/``kmeans_iters``/
    ``train_frac``, which only parameterize training); with
    ``residual=True`` the pair must be (normalize=True coarse,
    pq_fit_residual books).

    ``residual=True`` is the FAISS ``by_residual`` variant: the coarse
    quantizer lives in the normalized space, PQ encodes the residual
    v̂ − c_assign, and ADC scores candidates as q̂·c_list + Σ table
    lookups — the same code bytes spend their precision on the
    within-cell displacement instead of the whole sphere, buying
    better candidate recall (recall floor vs plain asserted in
    tests/test_pq.py). Training costs coarse + PQ passes sequentially
    (residuals depend on the finished coarse model — the fused
    single-scan trainer applies to the plain variant only). Returned
    VALUES are identical-quality either way: the exact re-rank
    restores true cosine, only candidate selection differs.

    Stages: coarse quantizer (ivf.py k-means) → inverted lists carrying
    CODES only → (query, probed list, ADC table) probe relation →
    per-candidate score = m table lookups (one Arrow pass over the
    probed fraction of the corpus) → per-query top k·refine by
    (approx desc, id asc) → exact cosine re-rank of that candidate set
    against the true vectors. ``train_frac`` fits both quantizers on a
    deterministic hash-sample (the 100 TB knob: training passes scan
    frac·corpus, encode/search still cover everything).

    Query handling is TWO-PATH (brute_force_topk's bounded-collect
    design, similarity.py): a ``limit(max_inline_queries+1)`` collect
    decides the branch without ever materializing a large query set on
    the driver. Small sets build the probe relation driver-side
    (broadcast); larger sets build it executor-side via
    ``_probe_relations`` — one Arrow pass over the query frame, the ADC
    table normalized out of the per-list rows, join strategies left to
    AQE — so the SemDeDup-style everything-queries-everything shape
    runs fully distributed. Both paths return bit-identical results
    (asserted in tests/test_pq.py).
    """
    spark = df.sparkSession
    # branch-decide BEFORE training: an empty query set must not pay
    # two quantizer fits for an empty answer
    q_rows, truncated = _collect_queries_bounded(
        queries, vec_col, id_col, limit=max_inline_queries + 1
    )
    if not q_rows and not truncated:
        schema = "query_id long, nbr_id long, cos double"
        if with_rank:
            schema += ", rn int"
        return spark.createDataFrame([], schema)
    rot = rotation
    if rotation is not None and model is None and not opq:
        # training would run in the UNROTATED space while encode/probe
        # rotate — silently mismatched quantizers; refuse
        raise ValueError(
            "ivfpq_topk: rotation= without model= requires opq=True "
            "(training must run in the rotated space)"
        )
    if model is not None:
        cents, books = model
        m, ksub, _ = books.shape
    else:
        tr = _train_frame(df, train_frac, id_col)
        if opq:
            if rot is None:
                rot = opq_fit_rotation(tr, m=m, vec_col=vec_col, id_col=id_col)
            # the existing fits run UNCHANGED in the rotated space.
            # Round 13 (optimization, guide §5): the rotated TRAIN
            # sample is localCheckpoint-ed once — every Lloyd pass used
            # to re-run the rotation's own mapInPandas boundary (a
            # second Python round trip per iteration); now one rotate
            # pass feeds all kmeans_iters trainer passes. The cache is
            # train-sample-sized (train_frac is the 100 TB bound) and
            # the materialized rows are the exact doubles the lazy map
            # would recompute — models bit-identical (tests/test_pq.py
            # numpy replay unchanged). localCheckpoint truncates lineage
            # (executor loss during training fails the job — the same
            # tradeoff the semdedup checkpoint documents). unpersist()
            # does not release localCheckpoint blocks (the RDD stays in
            # getPersistentRDDs); they go when the checkpointed RDD is
            # garbage-collected on the driver (Spark's ContextCleaner).
            tr = _rotated_frame(tr, rot, vec_col, id_col).localCheckpoint(
                eager=True
            )
            t_vec, t_id = "v", "id"
        else:
            t_vec, t_id = vec_col, id_col
        if residual:
            cents = kmeans_fit(
                tr, k=n_lists, iters=kmeans_iters, vec_col=t_vec, id_col=t_id,
                normalize=True,
            )
            books = pq_fit_residual(
                tr, cents, m=m, ksub=ksub, iters=kmeans_iters,
                vec_col=t_vec, id_col=t_id,
            )
        else:
            # ONE fused pass per Lloyd iteration trains both quantizers
            # (bit-identical to the standalone kmeans_fit + pq_fit pair —
            # asserted in tests/test_pq.py)
            cents, books = kmeans_pq_fit(
                tr, k=n_lists, m=m, ksub=ksub, iters=kmeans_iters,
                vec_col=t_vec, id_col=t_id,
            )
    coded = _assign_encode(
        df, cents, books, vec_col, id_col, residual=residual, rot=rot
    )
    pool = k_neighbors * refine
    if not truncated:
        probes, _ = _probe_frame(
            spark, q_rows, cents, books, nprobe, residual=residual, rot=rot
        )
        cands = _adc_candidates(coded, probes, m, ksub, pool)
        return _exact_rerank(
            _vec_frame(df, vec_col, id_col), cands, q_rows, k_neighbors,
            with_rank=with_rank,
        )
    base = _probe_relations(
        queries, cents, books, nprobe, vec_col, id_col, residual=residual, rot=rot
    )
    cands = _adc_candidates(
        coded, _explode_probes(base, "qtab"), m, ksub, pool, hint_broadcast=False
    )
    qdf = _vec_frame(queries, vec_col, id_col).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv")
    )
    return _exact_rerank_df(
        _vec_frame(df, vec_col, id_col), cands, qdf, k_neighbors,
        hint_broadcast=False, with_rank=with_rank,
    )


def write_pq_index(
    df: DataFrame,
    path: str,
    n_lists: int = 8,
    m: int = 8,
    ksub: int = 16,
    kmeans_iters: int = 5,
    train_frac: float | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    meta_cols: list[str] | None = None,
    residual: bool = False,
    opq: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Materialize the IVF-PQ index as a LIST-PARTITIONED layout:
    ``path/codes/list_id=<l>/`` holds the compressed (id, code) rows —
    the relation queries scan, 32× smaller than the vectors —
    ``path/vectors/list_id=<l>/`` the raw vectors the re-rank fetches
    (also pruned to the probed lists), and ``path/centroids`` /
    ``path/codebooks`` the tiny model relations. A probe reads
    nprobe/n_lists of the CODES via partition pruning (PartitionFilters
    in the plan, asserted in tests) — at 100 TB the ADC scan cost is
    nprobe/n_lists × corpus/32. ``train_frac`` fits both quantizers on
    a deterministic hash-sample (training scans frac·corpus; the
    written index still encodes every vector). ``meta_cols`` write
    attribute columns into BOTH relations so probes can push a metadata
    predicate (``where=`` in :func:`pq_topk_indexed`) into the parquet
    scans alongside the list_id partition pruning.
    """
    from sgdnet_spark.operators.maintenance import drop_dir

    # a REBUILD must not inherit a previous index's sidecars: stale
    # tombstones would silently mask re-indexed ids from every probe,
    # and a stale rotation (opq=True before, opq=False now) would
    # rotate queries against unrotated quantizers — silent garbage
    # candidate selection (the meta relation is overwritten below; these
    # two are only ever written conditionally, so they need the drop)
    drop_dir(df.sparkSession, f"{path}/tombstones")
    drop_dir(df.sparkSession, f"{path}/rotation")
    meta = list(meta_cols or [])
    tr = _train_frame(df, train_frac, id_col)
    rot = None
    if opq:
        # OPQ (round 13): fit the rotation first (one moments pass),
        # then train BOTH quantizers in the rotated space — the
        # rotation is a lazy Arrow map riding each training scan
        rot = opq_fit_rotation(tr, m=m, vec_col=vec_col, id_col=id_col)
        tr = _rotated_frame(tr, rot, vec_col, id_col)
        t_vec, t_id = "v", "id"
    else:
        t_vec, t_id = vec_col, id_col
    if residual:
        # residual books depend on the finished coarse model — the
        # fused trainer applies to the plain variant only
        cents = kmeans_fit(
            tr, k=n_lists, iters=kmeans_iters, vec_col=t_vec, id_col=t_id,
            normalize=True,
        )
        books = pq_fit_residual(
            tr, cents, m=m, ksub=ksub, iters=kmeans_iters,
            vec_col=t_vec, id_col=t_id,
        )
    else:
        # fused training: one pass per iteration for both quantizers
        cents, books = kmeans_pq_fit(
            tr, k=n_lists, m=m, ksub=ksub, iters=kmeans_iters,
            vec_col=t_vec, id_col=t_id,
        )
    # assign+encode once, reuse for BOTH writes. persist, NOT
    # localCheckpoint: this relation is corpus-sized (raw vectors
    # included) — checkpoint would truncate lineage, so a lost executor
    # block between the two writes kills the job; persist keeps the
    # assignment map recomputable for exactly the blocks that vanish
    coded = _assign_encode(
        df, cents, books, vec_col, id_col, keep_v=True, meta_cols=meta,
        residual=residual, rot=rot,
    ).persist()
    try:
        coded.select("id", "list_id", "code", *meta).write.mode("overwrite").partitionBy(
            "list_id"
        ).parquet(f"{path}/codes")
        coded.select("id", "list_id", "v", *meta).write.mode("overwrite").partitionBy(
            "list_id"
        ).parquet(f"{path}/vectors")
    finally:
        coded.unpersist()
    spark = df.sparkSession
    # the encoding VARIANT is part of the index: probes and appends read
    # it back (indexes written before round 12 lack the file -> plain)
    spark.createDataFrame(
        [(bool(residual),)], "residual boolean"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    if rot is not None:
        rot_rows = [(int(i), [float(x) for x in r]) for i, r in enumerate(rot)]
        spark.createDataFrame(
            rot_rows, "i long, row array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/rotation")
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)]
    spark.createDataFrame(cent_rows, "list_id long, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    book_rows = [
        (int(s), int(c), [float(x) for x in books[s, c]])
        for s in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    spark.createDataFrame(book_rows, "sub long, code long, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    return cents, books


def append_pq_index(
    spark,
    path: str,
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally add vectors to a written IVF-PQ index WITHOUT
    retraining or rebuilding: the stored centroids/codebooks encode the
    new batch (one fused Arrow pass) and the rows append into the
    existing list_id partition directories — the daily-ingest shape at
    corpus scale, where re-encoding 100 TB for a 0.1% delta is not an
    option. Quantizers are statistics; they serve new data of the same
    distribution (FAISS's add-after-train contract). Searches see the
    union immediately (append-mode parquet). The encoding variant
    (plain/residual) is read from the stored meta, so a batch is always
    encoded the way the index was built."""
    from sgdnet_spark.operators.ivf import load_centroids

    cents = load_centroids(spark, path)
    books = load_codebooks(spark, path)
    residual = _load_residual_flag(spark, path)
    # the index's meta columns are INFERRED from the stored codes schema
    # (anything beyond id/list_id/code): an append missing them would
    # write rows that silently vanish from every filtered probe
    meta = [
        f.name
        for f in spark.read.parquet(f"{path}/codes").schema.fields
        if f.name not in ("id", "list_id", "code")
    ]
    missing = [c for c in meta if c not in df.columns]
    if missing:
        raise ValueError(
            f"append_pq_index: index at {path} carries meta columns {meta}; "
            f"batch is missing {missing}"
        )
    tomb = _read_tombstones(spark, path)
    if tomb is not None:
        # re-adding a tombstoned id would resurrect its OLD rows next
        # to the new ones (the mask is id-level); compact first
        clash = (
            df.select(F.col(id_col).alias("id"))
            .join(F.broadcast(tomb), "id")
            .limit(1)
            .collect()
        )
        if clash:
            raise ValueError(
                f"append_pq_index: batch re-adds deleted id "
                f"{clash[0]['id']!r}; run compact_pq_index first to clear "
                "tombstones, then append"
            )
    # persist, not localCheckpoint — same recovery rationale as
    # write_pq_index (the batch may itself be large)
    coded = _assign_encode(
        df, cents, books, vec_col, id_col, keep_v=True, meta_cols=meta,
        residual=residual, rot=_load_rotation(spark, path),
    ).persist()
    try:
        # vectors FIRST: a failure between the two appends must leave the
        # index consistent for searches. An orphan VECTOR (appended, codes
        # write failed) is benign — nothing references it, ADC never
        # produces it as a candidate, and re-running the append
        # self-heals. The reverse order would leave orphan CODES whose
        # candidates ADC-score into the pool and are then silently
        # dropped by the re-rank inner join — quietly shrinking
        # result count/recall instead of erroring.
        coded.select("id", "list_id", "v", *meta).write.mode("append").partitionBy(
            "list_id"
        ).parquet(f"{path}/vectors")
        coded.select("id", "list_id", "code", *meta).write.mode("append").partitionBy(
            "list_id"
        ).parquet(f"{path}/codes")
    finally:
        coded.unpersist()


def _dir_exists(spark, path: str) -> bool:
    from sgdnet_spark.operators.maintenance import dir_exists

    return dir_exists(spark, path)


def _read_tombstones(spark, path: str):
    """(id) pending-deletes relation or None — the shared
    maintenance.read_tombstones on this tier's id column."""
    from sgdnet_spark.operators.maintenance import read_tombstones

    return read_tombstones(spark, path, "id")


def delete_from_pq_index(spark, path: str, ids) -> int:
    """Delete vectors from a written IVF-PQ index WITHOUT re-encoding
    or rebuilding — takedown support for the curation pipeline. ``ids``
    is a python list or a single-column DataFrame of vector ids.

    Tombstone design: deleted ids append to ``path/tombstones``; every
    probe anti-joins them out of the pruned CODES scan, so a deleted
    vector is never ADC-scored, never a candidate, never re-ranked —
    results equal an index holding only the surviving rows under the
    SAME quantizers (asserted in tests; quantizers are statistics and
    do not change on membership edits — the FAISS remove-after-train
    contract, mirroring append's add-after-train). Deletes are
    idempotent (already-deleted / never-indexed ids are no-ops);
    physical space is reclaimed by :func:`compact_pq_index`, which
    drops tombstoned rows from both relations during its rewrite and
    clears the tombstone set. ``ids`` may also be a SQL string /
    Column predicate over the index's meta columns (policy takedowns
    without a caller-materialized id list). Returns the number of
    newly deleted vectors."""
    from pyspark.sql import Column

    codes = spark.read.parquet(f"{path}/codes")
    if isinstance(ids, (str, Column)):
        ids = codes.filter(ids).select("id").distinct()
    dtype = codes.schema["id"].dataType.simpleString()
    if isinstance(ids, DataFrame):
        want = ids.select(F.col(ids.columns[0]).cast(dtype).alias("id")).distinct()
    else:
        want = spark.createDataFrame([(i,) for i in ids], f"id {dtype}").distinct()
    tomb = _read_tombstones(spark, path)
    if tomb is not None:
        want = want.join(F.broadcast(tomb), "id", "left_anti")
    # only ids actually present become tombstones — bounded by real
    # deletions, and the scan pays the codes relation (32× smaller
    # than vectors), not the raw corpus
    matched = codes.join(F.broadcast(want), "id").select("id").distinct()
    matched = matched.localCheckpoint(eager=True)
    n = matched.count()
    if n == 0:
        return 0
    matched.write.mode("append").parquet(f"{path}/tombstones")
    return n


def compact_pq_index(spark, path: str) -> tuple[int, int]:
    """Rewrite the codes and vectors layouts to one file per list_id
    partition (append_pq_index accumulates a file per batch per touched
    list; at daily-ingest cadence the ADC scan and the re-rank fetch
    degrade on tiny files). Each relation is compacted independently
    with the two-rename swap of
    :func:`sgdnet_spark.operators.maintenance.compact_partitioned` —
    vectors FIRST, then codes, mirroring append_pq_index's ordering
    rationale: a failure in between leaves both relations complete and
    self-consistent (compaction never changes membership), just one of
    them still fragmented — re-running finishes the job. Returns the
    (codes, vectors) parquet file counts before compaction. Probe
    results are bit-identical pre/post (asserted in tests).

    Tombstoned rows (``delete_from_pq_index``) are physically dropped
    during the rewrite — the anti-join folds into the one shuffle each
    relation pays anyway — and the tombstone set clears LAST, so every
    crash prefix leaves probes correct (dropping already-masked rows
    and masking already-dropped ids are both no-ops)."""
    from sgdnet_spark.operators.maintenance import compact_partitioned

    tomb = _read_tombstones(spark, path)
    drop = (
        None
        if tomb is None
        else (lambda rel: rel.join(F.broadcast(tomb), "id", "left_anti"))
    )
    v_before = compact_partitioned(spark, f"{path}/vectors", "list_id", transform=drop)
    c_before = compact_partitioned(spark, f"{path}/codes", "list_id", transform=drop)
    if tomb is not None:
        from sgdnet_spark.operators.maintenance import drop_dir

        drop_dir(spark, f"{path}/tombstones")
    return c_before, v_before


def _load_residual_flag(spark, path: str) -> bool:
    """Whether the index at ``path`` was written with residual
    encoding; indexes written before round 12 have no meta relation —
    they are plain."""
    try:
        return bool(spark.read.parquet(f"{path}/meta").collect()[0]["residual"])
    except Exception:
        return False


def _load_rotation(spark, path: str) -> np.ndarray | None:
    """The OPQ rotation the index was written with, or None (plain /
    residual / pre-round-13 indexes have no rotation relation)."""
    if not _dir_exists(spark, f"{path}/rotation"):
        return None
    rows = spark.read.parquet(f"{path}/rotation").orderBy("i").collect()
    return np.asarray([r["row"] for r in rows], dtype=np.float64)


def load_codebooks(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(f"{path}/codebooks").orderBy("sub", "code").collect()
    m = max(r["sub"] for r in rows) + 1
    ksub = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["centroid"])
    books = np.empty((m, ksub, dsub))
    for r in rows:
        books[r["sub"], r["code"]] = r["centroid"]
    return books


def pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k_neighbors: int = 5,
    nprobe: int = 3,
    refine: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_inline_queries: int = 64,
    where=None,
    with_rank: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Probe a written IVF-PQ index; returns (result, pruned_codes_scan).

    The codes frame is filtered on the PARTITION column list_id with an
    IN-list of every probed list, so the parquet source prunes to those
    directories — and so does the vectors read the re-rank fetches
    from. ``pruned_codes_scan`` is returned so callers/tests can
    inspect the pruned read's plan.

    ``where`` (a SQL string or Column over the index's ``meta_cols``,
    e.g. ``"lang = 'en'"``) is metadata-FILTERED retrieval: the
    predicate applies to both the codes and vectors scans, where the
    parquet source pushes it down next to the partition pruning
    (PushedFilters — plan-asserted in tests), so only matching rows are
    ever ADC-scored or re-ranked and results equal brute force over the
    post-filtered corpus. Query handling is the same two-path design as
    :func:`ivfpq_topk` (small sets probe driver-side; beyond
    ``max_inline_queries`` the probe relation is built executor-side
    and only the bounded probed-list-id set — at most n_lists values —
    is collected for partition pruning).
    """
    from sgdnet_spark.operators.ivf import load_centroids

    cents = load_centroids(spark, path)
    books = load_codebooks(spark, path)
    return _topk_indexed_with_model(
        spark, path, queries, cents, books, k_neighbors, nprobe, refine,
        vec_col, id_col, max_inline_queries, where, with_rank,
        residual=_load_residual_flag(spark, path),
        rot=_load_rotation(spark, path),
    )


def _topk_indexed_with_model(
    spark,
    path: str,
    queries: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    k_neighbors: int,
    nprobe: int,
    refine: int,
    vec_col: str,
    id_col: str,
    max_inline_queries: int = 64,
    where=None,
    with_rank: bool = False,
    residual: bool = False,
    rot: np.ndarray | None = None,
) -> tuple[DataFrame, DataFrame]:
    """pq_topk_indexed with preloaded quantizers — the repeated-probe
    path (streaming serving loads centroids/codebooks ONCE, then probes
    per micro-batch). ``residual`` / ``rot`` must match how the index
    was written (pq_topk_indexed reads them from the stored meta /
    rotation relations; streaming servers load them once at
    construction)."""
    m, ksub, _ = books.shape
    pool = k_neighbors * refine
    q_rows, truncated = _collect_queries_bounded(
        queries, vec_col, id_col, limit=max_inline_queries + 1
    )
    if not q_rows and not truncated:
        schema = "query_id long, nbr_id long, cos double"
        if with_rank:
            schema += ", rn int"
        empty = spark.createDataFrame([], schema)
        return empty, spark.read.parquet(f"{path}/codes").limit(0)
    if not truncated:
        probes, probed = _probe_frame(
            spark, q_rows, cents, books, nprobe, residual=residual, rot=rot
        )
        qtabs = None
        hint = True
    else:
        # lazy localCheckpoint: the probed-list collect below is the
        # first action and materializes the per-query probe frame ONCE;
        # the candidates join then reuses the checkpointed blocks
        # instead of re-running the query scan + tokenize +
        # nearest-centroid Arrow pass a second time
        base = _probe_relations(
            queries, cents, books, nprobe, vec_col, id_col, residual=residual,
            rot=rot,
        ).localCheckpoint(eager=False)
        # the probed-LIST-ID set is bounded by n_lists regardless of
        # query count — this collect is model-sized, never query-sized
        probed = {
            r["l"]
            for r in base.select(F.explode("lists").alias("l")).distinct().collect()
        }
        if not probed:  # every query row had a NULL vector
            schema = "query_id long, nbr_id long, cos double"
            if with_rank:
                schema += ", rn int"
            empty = spark.createDataFrame([], schema)
            return empty, spark.read.parquet(f"{path}/codes").limit(0)
        probes = _explode_probes(base, "qtab")
        hint = False
    in_list = [int(x) for x in sorted(probed)]
    codes = spark.read.parquet(f"{path}/codes").filter(F.col("list_id").isin(*in_list))
    if where is not None:
        codes = codes.filter(where)
    # deletions mask the candidate source: a tombstoned vector is never
    # ADC-scored, never a candidate, never re-ranked (the vectors scan
    # needs no mask — the re-rank inner-joins the masked candidates)
    tomb = _read_tombstones(spark, path)
    if tomb is not None:
        codes = codes.join(F.broadcast(tomb), "id", "left_anti")
    cands = _adc_candidates(codes, probes, int(m), int(ksub), pool, hint_broadcast=hint)
    vectors = spark.read.parquet(f"{path}/vectors").filter(F.col("list_id").isin(*in_list))
    if where is not None:
        vectors = vectors.filter(where)
    vectors = vectors.select("id", "v")
    if hint:
        return (
            _exact_rerank(vectors, cands, q_rows, k_neighbors, with_rank=with_rank),
            codes,
        )
    qdf = _vec_frame(queries, vec_col, id_col).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv")
    )
    return (
        _exact_rerank_df(
            vectors, cands, qdf, k_neighbors, hint_broadcast=False, with_rank=with_rank
        ),
        codes,
    )


def pq_index_info(spark, path: str) -> dict:
    """Operational snapshot of a written IVF-PQ index — the maintenance
    dashboard read: model shape, encoding variant flags, layout health
    (per-relation parquet file counts — the compact-when-degraded
    signal), pending tombstones, and meta columns. Model-sized reads
    plus file listings; never scans codes/vectors rows."""
    books = load_codebooks(spark, path)
    cents = spark.read.parquet(f"{path}/centroids").count()
    schema = spark.read.parquet(f"{path}/codes").schema
    meta = [
        f.name
        for f in schema.fields
        if f.name not in ("id", "list_id", "code")
    ]
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def _files(sub: str) -> int:
        hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}")
        it = hpath.getFileSystem(conf).listFiles(hpath, True)
        n = 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    tomb = _read_tombstones(spark, path)
    m, ksub, dsub = books.shape
    return {
        "n_lists": int(cents),
        "m": int(m),
        "ksub": int(ksub),
        "dim": int(m * dsub),
        "residual": _load_residual_flag(spark, path),
        "opq": _load_rotation(spark, path) is not None,
        "n_code_files": _files("codes"),
        "n_vector_files": _files("vectors"),
        "pending_tombstones": int(tomb.count()) if tomb is not None else 0,
        "meta_cols": meta,
    }
