"""In-process numpy oracles for the search results the engine returns.

Distances follow the engine's L2 convention: squared L2 written as
``||q||^2 + ||x||^2 - 2 q.x``, with ``||x||^2`` taken from the
unquantized fp32 input for reduced-precision tables (FIXTURES.md).
"""

from __future__ import annotations

import numpy as np

# FIXTURES.md relative distance tolerances per storage type
TOL_FP32 = 1e-3
TOL_FP16 = 5e-2


def sq_dists(Q: np.ndarray, X: np.ndarray, norms: np.ndarray | None = None) -> np.ndarray:
    """(nq, n) float64 squared L2 distances."""
    Q = np.asarray(Q, np.float64)
    X = np.asarray(X, np.float64)
    if norms is None:
        norms = np.einsum("ij,ij->i", X, X)
    qn = np.einsum("ij,ij->i", Q, Q)
    return qn[:, None] + norms[None, :] - 2.0 * (Q @ X.T)


def topk(dist: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact (D, L) with rows best-first, ties broken by label."""
    k = min(k, dist.shape[1])
    part = np.argpartition(dist, k - 1, axis=1)[:, :k]
    d = np.take_along_axis(dist, part, axis=1)
    order = np.lexsort((part, d), axis=1)
    L = np.take_along_axis(part, order, axis=1)
    return np.take_along_axis(dist, L, axis=1), L


def _close(a, b, tol: float) -> np.ndarray:
    return np.abs(a - b) <= tol * np.maximum(np.abs(b), 1e-6)


def check_flat(D, L, dist: np.ndarray, tol: float) -> list[str]:
    """Errors in a flat top-k result against the full distance matrix
    ``dist`` of the same queries: top-1 exact up to distance ties, every
    rank's distance within ``tol`` of the oracle's, every returned
    label valid and paired with its own distance."""
    D = np.asarray(D, np.float64)
    L = np.asarray(L, np.int64)
    k = D.shape[1]
    Dref, Lref = topk(dist, k)
    errs = []
    if ((L < 0) | (L >= dist.shape[1])).any():
        return ["label out of range"]
    own = np.take_along_axis(dist, L, axis=1)
    if not _close(own, D, tol).all():
        errs.append("distance does not match its label")
    if not _close(D, Dref, tol).all():
        errs.append("distance differs from the oracle")
    top1_tie = _close(own[:, 0], Dref[:, 0], tol)
    if not ((L[:, 0] == Lref[:, 0]) | top1_tie).all():
        errs.append("top-1 label differs from the oracle")
    if (np.diff(D, axis=1) < -tol * np.abs(D[:, 1:])).any():
        errs.append("distances not non-decreasing")
    return errs


def check_ann(D, L, dist: np.ndarray, tol: float = TOL_FP32) -> list[str]:
    """Errors in an approximate top-k result: labels valid and distinct
    (-1 only as +inf padding), distances non-decreasing and equal to
    the true distance of their label."""
    D = np.asarray(D, np.float64)
    L = np.asarray(L, np.int64)
    pad = L == -1
    if ((L < -1) | (L >= dist.shape[1])).any():
        return ["label out of range"]
    if not np.isinf(D[pad]).all():
        return ["padded rank with a finite distance"]
    errs = []
    own = np.take_along_axis(dist, np.where(pad, 0, L), axis=1)
    if not _close(own[~pad], D[~pad], tol).all():
        errs.append("distance does not match its label")
    for row, p in zip(L, pad):
        if len(set(row[~p].tolist())) != int((~p).sum()):
            errs.append("duplicate label in one result row")
            break
    finite = np.where(pad, np.inf, D)
    if (np.diff(finite, axis=1) < -tol * np.abs(finite[:, 1:])).any():
        errs.append("distances not non-decreasing")
    return errs


def recall(L, Lref) -> float:
    """Mean share of each row of ``Lref`` found in the same row of ``L``."""
    hits = [len(set(a.tolist()) & set(b.tolist())) for a, b in zip(L, Lref)]
    return float(np.sum(hits)) / float(np.asarray(Lref).size)
