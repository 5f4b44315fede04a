"""Vectorized (Arrow/numpy) vector math with STRICT left-to-right
summation order.

Why the order matters: every dot product here must be bit-identical to
a linear fold (``((0+x0)+x1)+...``) so results match the DuckDB oracle
(list_dot_product) and the Catalyst ``aggregate(zip_with(...))`` form
exactly. numpy's BLAS dot / pairwise sum reorder additions and differ
in ulps — verified non-equal — so the kernels below vectorize ACROSS
ROWS while staying sequential ACROSS DIMS: ``acc += col_d * y_d`` for
d = 0..D-1. Same result, ~100x the throughput of interpreted Catalyst
folds — the difference between a toy and something you'd run over 10^9
embeddings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def _stack(series: pd.Series) -> np.ndarray:
    return np.stack(series.to_numpy()).astype(np.float64, copy=False)


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot of two (n, d) matrices, strict dim order."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for d in range(a.shape[1]):
        acc = acc + a[:, d] * b[:, d]
    return acc


def _seq_dot_vec(a: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Row-wise dot of (n, d) against a fixed d-vector, strict order."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for d in range(a.shape[1]):
        acc = acc + a[:, d] * y[d]
    return acc


def _seq_dot_mat(
    a: np.ndarray, C: np.ndarray, workers: int = 1
) -> np.ndarray:
    """All row-against-centroid dots at once: (n, d) x (k, d) ->
    (n, k), accumulated dim-by-dim so every element's additions happen
    in the SAME strict d order as `_seq_dot_vec` per centroid
    (bit-identical; verified by tests). One numpy op per dim per row
    block instead of k x d calls; the row blocks keep the accumulator
    cache-resident across the dim loop (measured 3.4x over the
    per-centroid loop at n=34k, k=185, d=64 — the k-centroid argmin
    kernels were memory/dispatch-bound, not flops-bound).

    ``workers`` > 1 fans the INDEPENDENT row blocks over a thread pool
    (numpy elementwise kernels release the GIL; every block writes a
    disjoint output slice, so the result is bit-identical for any
    worker count — r07, measured 12x at n=113k k=442 d=64). Executor-
    side callers (the pandas UDF kernels) keep the default 1: their
    parallelism is Spark's task slots. Driver-side model fits
    (operators.kmeans._assign_local) opt in — while they run, the
    cluster is idle and the driver's cores are free."""
    n, k = a.shape[0], C.shape[0]
    out = np.empty((n, k), dtype=np.float64)
    Ct = np.ascontiguousarray(C.T)  # (d, k): unit-stride rows per dim
    chunk = 1024  # blk + tmp ~ 2 x chunk x k doubles: L2-resident
    ndim = a.shape[1]

    def _block(s: int) -> None:
        ab = a[s : s + chunk]
        m = ab.shape[0]
        blk = np.zeros((m, k), dtype=np.float64)
        tmp = np.empty((m, k), dtype=np.float64)
        for d in range(ndim):
            np.multiply(ab[:, d, None], Ct[d][None, :], out=tmp)
            blk += tmp
        out[s : s + chunk] = blk

    starts = range(0, n, chunk)
    if workers > 1 and n > chunk:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=workers) as ex:
            list(ex.map(_block, starts))
    else:
        for s in starts:
            _block(s)
    return out


def _seq_nearest(
    a: np.ndarray,
    C: np.ndarray,
    sq: np.ndarray,
    vv: np.ndarray,
    workers: int = 1,
) -> np.ndarray:
    """0-based argmin_j of (vv_i - 2*dot(a_i, C_j)) + sq_j with the
    dots accumulated in strict d order — the same per-element float
    expression `(vv[:, None] - 2.0 * _seq_dot_mat(a, C)) + sq[None, :]`
    previously materialized as an (n, k) matrix, now evaluated block-
    locally so the distances stay cache-resident and the argmin runs
    on the hot block (r07: removes ~3 full (n, k) temporary passes —
    at n=113k, k=442 that is 3 x 400 MB of memory traffic per call).
    Bit-identical: blocking changes neither any element's value nor
    np.argmin's first-min tie-break."""
    n, k = a.shape[0], C.shape[0]
    out = np.empty(n, dtype=np.int64)
    Ct = np.ascontiguousarray(C.T)
    chunk = 1024
    ndim = a.shape[1]

    def _block(s: int) -> None:
        ab = a[s : s + chunk]
        m = ab.shape[0]
        blk = np.zeros((m, k), dtype=np.float64)
        tmp = np.empty((m, k), dtype=np.float64)
        for d in range(ndim):
            np.multiply(ab[:, d, None], Ct[d][None, :], out=tmp)
            blk += tmp
        dmat = (vv[s : s + chunk, None] - 2.0 * blk) + sq[None, :]
        out[s : s + chunk] = np.argmin(dmat, axis=1)

    starts = range(0, n, chunk)
    if workers > 1 and n > chunk:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=workers) as ex:
            list(ex.map(_block, starts))
    else:
        for s in starts:
            _block(s)
    return out


def lsh_bucket_udf(planes: list[list[float]]):
    """array<double> -> bigint sign-bucket over fixed hyperplanes."""
    ps = [np.asarray(p, dtype=np.float64) for p in planes]

    @F.pandas_udf("long")
    def bucket(v: pd.Series) -> pd.Series:
        a = _stack(v)
        out = np.zeros(a.shape[0], dtype=np.int64)
        for i, p in enumerate(ps):
            out |= (_seq_dot_vec(a, p) > 0).astype(np.int64) << i
        return pd.Series(out)

    return bucket


def ivf_cell_udf(centroids: list[list[float]]):
    """array<double> -> bigint nearest-centroid cell (1-based, first
    argmin on ties — matching SQL array_position/list_position).

    Distance per centroid is the same expansion both oracles use,
    evaluated in the same strict order: (dot(v,v) - 2*dot(v,c)) +
    |c|^2, with |c|^2 the identical Python-float constant embedded in
    the SQL literal."""
    C = np.stack([np.asarray(c, dtype=np.float64) for c in centroids])
    sq = np.array(
        [sum(x * x for x in c) for c in centroids]  # same fold as SQL literal
    )

    @F.pandas_udf("long")
    def cell(v: pd.Series) -> pd.Series:
        a = _stack(v)
        vv = _seq_dot(a, a)
        # (vv - 2*dot) + |c|^2 per element via the block-local fused
        # argmin kernel — bit-identical to the per-centroid loop
        return pd.Series(_seq_nearest(a, C, sq, vv) + 1)

    return cell
