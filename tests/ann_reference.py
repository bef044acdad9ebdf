"""Numpy reference of the centroid and PQ scoring rule the oracle gates fix.

The dot products accumulate one element position at a time, starting
from 0.0 (the sequence of the JVM ``F.aggregate`` fold and DuckDB
``list_dot_product``), over the full score matrix; every row is then
ranked on its own: the k-th best raw score, the candidates within 2e-8
of it, Spark's ROUND(x, 8) of each candidate (shortest decimal repr,
HALF_UP), order by (rounded score, id), NaN scores last in id order.

This is the slow, obviously-ordered form of the rule; the kernels in
``functions/similarity.py`` must match it bit for bit.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def spark_round8(x: float) -> float:
    """Spark ``ROUND(double, 8)``: NaN and infinities pass through;
    otherwise ``BigDecimal(Double.toString(x)).setScale(8, HALF_UP)``."""
    x = float(x)
    if not abs(x) < 2.0 ** 52:
        return x
    return float(Decimal(repr(x)).quantize(Decimal("1e-8"), ROUND_HALF_UP))


def element_order_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, m) matrix of index-order dots between the rows of A and B."""
    acc = np.zeros((A.shape[0], B.shape[0]))
    for k in range(A.shape[1]):
        acc += A[:, k][:, None] * B[:, k][None, :]
    return acc


def norm2(X: np.ndarray) -> np.ndarray:
    """Index-order fold of each row with itself (the JVM ``na2``)."""
    acc = np.zeros(X.shape[0])
    for k in range(X.shape[1]):
        acc += X[:, k] * X[:, k]
    return acc


def centroid_probes(A: np.ndarray, C: np.ndarray, nprobe: int) -> list:
    """Per row of A: [(centroid index, ROUND-8 cosine or NaN), ...] for
    its ``nprobe`` best centroids, in rank order."""
    na2, nb2 = norm2(A), norm2(C)
    cos = element_order_dots(A, C) / np.sqrt(na2[:, None] * nb2[None, :])
    p = min(nprobe, C.shape[0])
    out = []
    for i in range(A.shape[0]):
        order = np.argsort(-cos[i], kind="stable")
        nan = np.isnan(cos[i, order])
        finite = order[~nan]
        ranked = []
        if len(finite):
            f = min(p, len(finite))
            kth = cos[i, finite[f - 1]]
            cand = finite[cos[i, finite] >= kth - 2e-8]
            ranked = sorted((-spark_round8(cos[i, j]), int(j)) for j in cand)[:f]
        ranked += [(float("nan"), int(j)) for j in order[nan][: p - len(ranked)]]
        out.append([(j, -r) for r, j in ranked])
    return out


def pq_codes(A: np.ndarray, codebooks: np.ndarray) -> tuple:
    """(codes (n, m), ROUND-8 dist² (n, m)) for codebooks [m, K, d]."""
    m, _, d = codebooks.shape
    n = A.shape[0]
    codes = np.empty((n, m), dtype=np.int64)
    d2s = np.empty((n, m))
    for s in range(m):
        Xs = A[:, s * d:(s + 1) * d]
        d2 = ((norm2(Xs)[:, None] - 2.0 * element_order_dots(Xs, codebooks[s]))
              + norm2(codebooks[s])[None, :])
        for i in range(n):
            fin = np.nonzero(~np.isnan(d2[i]))[0]
            if len(fin) == 0:
                codes[i, s], d2s[i, s] = 0, float("nan")
                continue
            best = d2[i, fin[np.argmin(d2[i, fin])]]
            cand = fin[d2[i, fin] <= best + 2e-8]
            d2s[i, s], codes[i, s] = min(
                (spark_round8(d2[i, j]), int(j)) for j in cand)
    return codes, d2s
