"""The NumPy vector kernels of the k-means / IVF / PQ / ANN family.

This is the one module that knows the numeric contract those kernels keep
with the JVM expression folds and the DuckDB oracles:

- every reduction is a SEQUENTIAL left-to-right double fold over the last
  axis (``acc = x[0]; acc += x[1]; ...``) — the exact float-op order of
  Spark's ``aggregate`` fold and DuckDB's ``list_sum(list_transform)``.
  Never ``np.sum`` (pairwise) and never BLAS (``@``/einsum reassociate),
  either of which moves the 4dp-rounded oracle hashes;
- nearest-centroid choice is the FIRST argmin over the cluster-sorted
  centroid matrix, and a cell ranking sorts (dist, cluster) tuples — both
  exactly ``array_min``'s / ``row_number()``'s (dist, cluster) tie order;
- integer norms (quantized vectors) are exact int64 sums — order-free.

The folds loop over the dimension and update a (rows × cells) accumulator,
so no (rows × cells × dim) temporary is ever built; the row chunking below
bounds that 2-D accumulator for corpus-sized cell counts.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

# Row-chunk budget for the (rows × cells) distance accumulator: 32 MiB of
# float64 per chunk, so a corpus-sized cell count (nlist = sqrt(N), e.g.
# 31.6k cells at 1e9 vectors) never materializes a multi-GB intermediate
# inside one Python worker batch.
_NP_CHUNK_BYTES = 32 * 1024 * 1024


def cents_arrays(rows) -> tuple[np.ndarray, np.ndarray]:
    """(centroid matrix, cluster ids) from cluster-sorted collected
    (cluster, c) rows — the broadcast payload of every assignment kernel."""
    return (
        np.array([c for _, c in rows], dtype=np.float64),
        np.array([cl for cl, _ in rows], dtype=np.int64),
    )


def seq_sum(x: np.ndarray) -> np.ndarray:
    """Left fold over the last axis — bit-identical to
    ``np.cumsum(x, axis=-1)[..., -1]`` without the full-size temporary."""
    x = np.asarray(x, dtype=np.float64)
    if x.shape[-1] == 0:
        return np.zeros(x.shape[:-1], dtype=np.float64)
    acc = x[..., 0].copy()
    for j in range(1, x.shape[-1]):
        acc += x[..., j]
    return acc


def sq_dists(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(rows, cells) squared L2 distances, each a sequential fold over the
    dimension of ``(x - c) * (x - c)`` — the JVM ``zip_with``/``aggregate``
    distance op for op (the fold starts at 0.0 like the JVM's; a square is
    never -0.0, so 0.0 + t == t and the result equals the cumsum form)."""
    xt = np.ascontiguousarray(np.asarray(x, dtype=np.float64).T)
    ct = np.ascontiguousarray(np.asarray(cents, dtype=np.float64).T)
    acc = np.zeros((xt.shape[1], ct.shape[1]), dtype=np.float64)
    for j in range(xt.shape[0]):
        t = xt[j][:, None] - ct[j][None, :]
        t *= t
        acc += t
    return acc


def argmin_sq(x: np.ndarray, cents: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(index, distance) of each row's nearest centroid — first argmin, so
    over cluster-sorted ``cents`` ties go to the smaller cluster id. Rows
    are processed in chunks of at most ``_NP_CHUNK_BYTES`` of accumulator."""
    n, k = len(x), len(cents)
    idx = np.empty(n, dtype=np.int64)
    dist = np.empty(n, dtype=np.float64)
    if n and not k:
        raise ValueError("argmin_sq: no centroids to assign rows to")
    chunk = max(1, _NP_CHUNK_BYTES // (8 * max(1, k)))
    for lo in range(0, n, chunk):
        d = sq_dists(x[lo : lo + chunk], cents)
        i = np.argmin(d, axis=1)
        idx[lo : lo + len(d)] = i
        dist[lo : lo + len(d)] = d[np.arange(len(d)), i]
    return idx, dist


def rank_cells(rows, qs) -> list[list[int]]:
    """Every query's cells, nearest first: for each query vector in ``qs``
    the cluster ids of the collected (cluster, c) centroid ``rows`` sorted
    by (:func:`sq_dists`, cluster id) — exactly orderBy(cdist, cluster)
    over the JVM fold's doubles. The one IVF cell ranking: the probes of
    the ml_ops IVF entries and of every persisted-index serve, computed on
    the driver over ≤nlist centroid rows (pinned against the retired
    expression in tests/test_np_kernels.py)."""
    if not len(qs):
        return []
    cents, clusters = cents_arrays(rows)
    ids = clusters.tolist()
    return [
        [cl for _, cl in sorted(zip(d.tolist(), ids))]
        for d in sq_dists(np.asarray(qs, dtype=np.float64), cents)
    ]


def int_norm(q: np.ndarray) -> np.ndarray | float:
    """Euclidean norm of integer-quantized vectors over the last axis: the
    squares and their sum are exact int64, so the fold order cannot
    matter; one IEEE sqrt at the end (the JVM long fold's result)."""
    return np.sqrt((np.asarray(q, dtype=np.int64) ** 2).sum(axis=-1).astype(np.float64))


def adc_cos(
    codewords_by_m: Sequence[np.ndarray], qv: np.ndarray, qnorm
) -> np.ndarray:
    """ADC cosine of PQ-reconstructed vectors against a query: for each
    subspace m, ``codewords_by_m[m]`` is the (rows, sub) reconstructed
    codeword; dot and squared-norm partials fold per subspace and then in
    ascending m. ``qv`` is the query as doubles — one (dim,) vector or a
    per-row (rows, dim) matrix — and ``qnorm`` its norm (scalar or per
    row, see :func:`int_norm`)."""
    dots = sqs = None
    lo = 0
    for c in codewords_by_m:
        sub = c.shape[1]
        dot_m = seq_sum(c * qv[..., lo : lo + sub])
        sq_m = seq_sum(c * c)
        lo += sub
        if dots is None:
            dots, sqs = dot_m, sq_m
        else:
            dots += dot_m
            sqs += sq_m
    return dots / (np.sqrt(sqs) * qnorm)


def rows_matrix(values, dtype=np.float64) -> np.ndarray:
    """(rows, width) matrix from a pandas Series of equal-length arrays
    (an Arrow list column inside a pandas UDF)."""
    if len(values) == 0:
        return np.empty((0, 0), dtype=dtype)
    return np.stack([np.asarray(v, dtype=dtype) for v in values])
