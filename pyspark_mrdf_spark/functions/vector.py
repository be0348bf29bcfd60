"""Vector math kernels.

Two tiers, per SURVEY.md §4.2:
 - **Column expressions** (JVM-side, codegen): dot/cosine/L2 via
   ``zip_with`` + ``aggregate`` — for one-off pairs or small arrays.
 - **NumPy block kernels** (Arrow-batched pandas UDFs): pairwise
   distance matrices for kNN — the vectorized recovery of the
   reference's per-row ``np.linalg.norm(u1-u2)``
   (reference utilities.py:11-13, called from knn.py:17,
   nndescent.py:165, mrdf.py:139).

All distance math is float64 regardless of the float32 storage type so
orderings are stable and oracle-comparable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Column-expression tier (whole-stage codegen; no Python)
# ---------------------------------------------------------------------------


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: str | Column, b: str | Column) -> Column:
    """Dot product of two float arrays, computed in double, sequential
    left-to-right accumulation (matches a scalar SQL loop exactly)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_sq(a: str | Column, b: str | Column) -> Column:
    """Squared Euclidean distance (double)."""
    diffs = F.zip_with(
        _c(a), _c(b), lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def l2(a: str | Column, b: str | Column) -> Column:
    """Euclidean distance (double) — the reference's σ (utilities.py:11-13)."""
    return F.sqrt(l2_sq(a, b))


def norm(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str | Column, b: str | Column) -> Column:
    """Cosine similarity in double."""
    return dot(a, b) / (norm(a) * norm(b))


# ---------------------------------------------------------------------------
# NumPy block tier (used inside mapInPandas / applyInPandas kernels)
# ---------------------------------------------------------------------------


def pairwise_l2_sq(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Exact pairwise squared L2 between query block q (m×d) and
    corpus x (n×d) → (m, n), float64.

    Uses the explicit (q - x)² form, NOT the ||q||²+||x||²-2qx trick:
    the expanded form loses precision catastrophically for near-equal
    vectors and its result can go slightly negative — orderings must be
    trustworthy because recall checks compare against a SQL oracle.
    Memory is bounded by chunking over queries.
    """
    q = np.asarray(q, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    out = np.empty((q.shape[0], x.shape[0]), dtype=np.float64)
    # chunk so the (chunk, n, d) intermediate stays ~256 MB
    chunk = max(1, int(256e6 / (x.shape[0] * x.shape[1] * 8)))
    for i in range(0, q.shape[0], chunk):
        d = q[i : i + chunk, None, :] - x[None, :, :]
        out[i : i + chunk] = np.einsum("ijk,ijk->ij", d, d)
    return out


def l2_topk_candidates(
    q: np.ndarray, x: np.ndarray, kk: int, pad: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Per-query-row top candidates by squared L2: BLAS-gemm prefilter,
    EXACT re-ranking — (cand_idx (m, c), d2_exact (m, c)) unordered.

    Why two passes: the gemm expansion ||q||²+||x||²−2q·x runs at
    matmul speed (~70× the broadcast (q−x)² form at n=2000) but its
    absolute error is O(eps·(‖q‖²+‖x‖²)) — enough to perturb ranks of
    near-tied pairs. So the gemm only nominates ``kk + pad`` candidates
    per row; their distances are then recomputed with the exact
    cancellation-free (q−x)² form, and ALL ordering downstream uses the
    exact values. A true top-kk member is missed only if gemm error
    exceeds the true distance gap across the pad boundary (~1e-12 vs
    data-scale gaps; pad defaults to max(16, kk)) — the oracle gates
    (q50/q51/q57 hash comparisons, blocked-vs-broadcast equivalence
    tests) guard the assumption."""
    q = np.asarray(q, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    c = min(kk + (max(16, kk) if pad is None else pad), n)
    qq = np.einsum("ij,ij->i", q, q)
    xx = np.einsum("ij,ij->i", x, x)
    # in-place expansion: the naive qq+xx-2qx spends more time allocating
    # three (m,n) temporaries than the gemm itself at 4096² (2.6s → 0.7s)
    g = q @ x.T
    g *= -2.0
    g += qq[:, None]
    g += xx[None, :]
    if c < n:
        # Fast selection with a tie-safe patch. Two failure modes of a
        # plain argpartition boundary (both found by the duplicate-heavy
        # property test): (a) > c exact duplicates give bitwise-equal g
        # across the boundary and partition keeps an arbitrary tied
        # subset; (b) distinct vectors at exactly equal TRUE distance
        # differ in g by ~1 ulp, so the wrong one can fall outside. Flag
        # any row where an excluded g lies within the gemm error margin
        # of the included max, and redo JUST those rows with the exact
        # cancellation-free distances over all n columns (stable ⇒ ties
        # keep column order = id order). Normal data never flags; a full
        # stable argsort everywhere would cost ~25× the partition.
        cand = np.argpartition(g, c - 1, axis=1)[:, :c]
        t = np.take_along_axis(g, cand, axis=1).max(axis=1)
        margin = 256.0 * np.finfo(np.float64).eps * (qq + float(xx.max()) + 1.0)
        tied = np.flatnonzero((g <= (t + margin)[:, None]).sum(axis=1) > c)
        for i in tied:
            diff_row = q[i] - x
            d_exact = np.einsum("ij,ij->i", diff_row, diff_row)
            cand[i] = np.argsort(d_exact, kind="stable")[:c]
    else:
        cand = np.broadcast_to(np.arange(n), (q.shape[0], n)).copy()
    # exact recompute of candidates only: (m, c, d) intermediate, c small
    diff = q[:, None, :] - x[cand]
    d2 = np.einsum("ijk,ijk->ij", diff, diff)
    return cand, d2


def l2_argsort_topm(q: np.ndarray, x: np.ndarray, m: int) -> np.ndarray:
    """First ``m`` columns of ``np.argsort(pairwise_l2_sq(q, x),
    axis=1, kind="stable")`` — the nearest-``m`` centers per row, ties
    to the lowest column id — at gemm speed.

    The broadcast ``(q−x)²`` form is exact but memory-bandwidth-bound:
    at (10k rows × 256 centers × 128 dims) it measures ~30 s/batch
    where the gemm runs in milliseconds — it made cell assignment 95%
    of the IVF-PQ build (SCALABILITY ``*-ivfpq-io-cells256``: 261 s at
    n=400k). This path nominates candidates with the gemm expansion,
    re-ranks them with the exact cancellation-free distances, and
    falls back to a full exact stable argsort for any row whose
    boundary is within the gemm error margin (``l2_topk_candidates``'s
    tie patch) — so the output is bit-identical to the slow form under
    the same guarded-gemm assumption every hash-gated kernel (q50/q51/
    q57) already relies on, and exact ties still break to the lowest
    center id."""
    q = np.asarray(q, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    m = min(m, x.shape[0])
    cand, d2 = l2_topk_candidates(q, x, m)
    # order candidates by (exact distance, column id): stable-argsort
    # semantics restricted to the candidate superset
    order = np.lexsort((cand, d2), axis=-1)[:, :m]
    return np.take_along_axis(cand, order, axis=1)


def topk_ids(dist_row: np.ndarray, ids: np.ndarray, k: int, exclude: int | None = None) -> list[tuple[int, float]]:
    """Top-k (id, dist) by ascending (dist, id); optional self-exclusion."""
    order = np.lexsort((ids, dist_row))
    out = []
    for j in order:
        if exclude is not None and ids[j] == exclude:
            continue
        out.append((int(ids[j]), float(dist_row[j])))
        if len(out) == k:
            break
    return out
