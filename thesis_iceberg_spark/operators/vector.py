"""Vector kernels shared by the similarity, ANN and dedup paths.

* ``dot`` / ``cosine`` — exact double Column expressions: a sequential
  HOF fold that DuckDB's ``list_dot_product`` over DOUBLE[] reproduces
  bit-for-bit, so every query built on them keeps a value oracle.
* ``collect_matrix`` — one bounded Arrow collect of a list column to an
  (m x d) ndarray, viewing the flat values buffer (no per-row objects).
* ``fit_centroids`` — one seeded local Lloyd fit, Euclidean (IVF
  quantizer) or spherical (dedup k-means buckets).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPARK_FLOAT = {np.dtype(np.float32): "float", np.dtype(np.float64): "double"}


def dot(u: Column, w: Column) -> Column:
    """Exact sequential-fold dot product (matches DuckDB list_dot_product;
    measured faster than an unrolled codegen expression, PERFORMANCE.md)."""
    return F.aggregate(F.zip_with(u, w, lambda x, y: x * y), F.lit(0.0), lambda acc, p: acc + p)


def cosine(u: Column, w: Column) -> Column:
    # try_divide: a zero-norm vector yields NULL cosine instead of
    # throwing DIVIDE_BY_ZERO under ANSI (Spark 4 default).  Exact oracle
    # parity: DuckDB division by zero is NULL too, and BOTH engines sort
    # NULLs LAST under ORDER BY ... DESC, so the top-k rankings agree.
    return F.try_divide(dot(u, w), F.sqrt(dot(u, u)) * F.sqrt(dot(w, w)))


def collect_matrix(df: DataFrame, col: str, dtype) -> np.ndarray:
    """Collect the array column ``col`` of ``df`` as one (m x d) ndarray of
    ``dtype`` (float32 or float64; the element cast runs in Spark).

    The caller bounds ``df`` — this is a driver collect.  The width is read
    from the Arrow list offsets, so a ragged or NULL row raises instead of
    silently reshaping into the wrong matrix."""
    dtype = np.dtype(dtype)
    tbl = df.select(
        F.transform(col, lambda x: x.cast(_SPARK_FLOAT[dtype])).alias("v")
    ).toArrow()
    arr = tbl.column("v").combine_chunks()
    widths = np.diff(arr.offsets.to_numpy(zero_copy_only=False))
    d = int(widths[0]) if len(widths) else 0
    if arr.null_count or not (widths == d).all():
        raise ValueError(
            f"collect_matrix: column {col!r} has NULL or ragged rows "
            "(restrict it to one width first, e.g. ann.clean_embeddings)"
        )
    X = arr.flatten().to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    return X.reshape(len(widths), d)


def fit_centroids(
    X: np.ndarray, k: int, seed: int, iters: int, spherical: bool
) -> np.ndarray:
    """Seeded local Lloyd fit over the (m x d) sample ``X``; returns the
    (k x d) float64 centroid matrix.

    * ``spherical=False`` — float64, nearest = argmin ||x - c||^2.  Zero
      rows are ordinary points.
    * ``spherical=True`` — float32 unit rows, nearest = argmax x.c, unit
      centroids (cosine Lloyd).  Zero-norm rows have no direction and are
      dropped before init: kept, they would argmax to centroid 0 every
      pass and could seed a permanently dead centroid.

    Deterministic: init picks k distinct sample rows from
    ``default_rng(seed)``, the iteration count is fixed, ties go to the
    lowest centroid id (numpy argmin/argmax), and dead centroids reseed
    from a seeded permutation of the sample.  Raises ValueError when fewer
    than k (usable) sample rows remain."""
    if spherical:
        X = np.ascontiguousarray(X, dtype=np.float32)
        norms = np.linalg.norm(X, axis=1)
        keep = norms > 0
        X = X[keep] / norms[keep][:, None]
    else:
        X = np.ascontiguousarray(X, dtype=np.float64)
    m, d = X.shape
    if m < k:
        dropped = " after dropping zero-norm rows" if spherical else ""
        raise ValueError(
            f"fit_centroids needs >= k sample rows (k={k}, sample={m}{dropped})"
        )
    rng = np.random.default_rng(seed)
    C = X[rng.choice(m, size=k, replace=False)].copy()
    chunk = max(1, (64 << 20) // (X.itemsize * k))  # ~64 MB of scores per block
    assign = np.empty(m, dtype=np.int64)
    for _ in range(iters):
        # argmin ||x-c||^2 == argmin (||c||^2 - 2 x.c): one GEMM per block
        c2 = None if spherical else (C * C).sum(axis=1)[None, :]
        for lo in range(0, m, chunk):
            G = X[lo : lo + chunk] @ C.T
            assign[lo : lo + chunk] = (
                np.argmax(G, axis=1) if spherical else np.argmin(c2 - 2.0 * G, axis=1)
            )
        counts = np.bincount(assign, minlength=k)
        C_new = np.zeros((k, d), dtype=np.float64)
        for j in range(d):
            C_new[:, j] = np.bincount(assign, weights=X[:, j], minlength=k)
        live = counts > 0
        C_new[live] /= counts[live, None]
        if spherical:
            cn = np.linalg.norm(C_new, axis=1)
            live &= cn > 0
            C_new[live] /= cn[live, None]
        if not live.all():
            C_new[~live] = X[rng.permutation(m)[: int((~live).sum())]]
        C = C_new.astype(X.dtype, copy=False)
    return C.astype(np.float64, copy=False)
