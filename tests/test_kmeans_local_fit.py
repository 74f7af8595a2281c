"""The one local Lloyd fit (operators/vector.fit_centroids) in both of
its modes.  Spherical (the dedup k-means buckets): determinism, cluster
recovery on separable data, the empty-cluster reseed, zero-norm rows
dropped, the m >= k contract.  Euclidean (the IVF quantizer and the
zero-norm fallback): determinism per seed, zero rows kept as ordinary
points, the m >= k contract.  Plus the Spark-side _kmeans_fit_centers
paths.  The kernel tests are pure numpy — no SparkSession needed."""

from __future__ import annotations

import numpy as np
import pytest

from thesis_iceberg_spark.operators.vector import fit_centroids


def _sph(X, k, seed):
    return fit_centroids(X, k, seed, 10, spherical=True)


def _euc(X, k, seed):
    return fit_centroids(X, k, seed, 20, spherical=False)


def _separable(n_per: int = 50, k: int = 4, d: int = 16, seed: int = 7):
    """k well-separated direction clusters on the unit sphere."""
    rng = np.random.default_rng(seed)
    anchors = rng.standard_normal((k, d))
    anchors /= np.linalg.norm(anchors, axis=1)[:, None]
    rows, labels = [], []
    for c, a in enumerate(anchors):
        noise = rng.standard_normal((n_per, d)) * 0.05
        rows.append(a[None, :] + noise)
        labels += [c] * n_per
    return np.vstack(rows), np.array(labels), anchors


def test_deterministic_across_calls():
    X, _, _ = _separable()
    a = _sph(X, k=4, seed=42)
    b = _sph(X, k=4, seed=42)
    assert a.shape == (4, 16) and a.dtype == np.float64
    assert np.array_equal(a, b)
    c = _sph(X, k=4, seed=43)
    assert not np.array_equal(a, c)  # different seed, different init


def test_recovers_separable_clusters():
    X, labels, anchors = _separable()
    C = _sph(X, k=4, seed=1)
    # every learned centroid should be ~parallel to exactly one anchor
    sims = (C / np.linalg.norm(C, axis=1)[:, None]) @ anchors.T
    best = sims.max(axis=1)
    assert (best > 0.99).all()
    assert len(set(sims.argmax(axis=1))) == 4  # a bijection, not a collapse
    # and assignment by cosine must reproduce the generating partition
    assign = np.argmax((X / np.linalg.norm(X, axis=1)[:, None]) @ C.T, axis=1)
    for c in range(4):
        members = assign[labels == c]
        assert (members == members[0]).all()


def test_centroids_unit_norm_and_shape():
    X, _, _ = _separable()
    C = _sph(X, k=4, seed=5)
    assert C.shape == (4, 16)
    assert np.allclose(np.linalg.norm(C, axis=1), 1.0, atol=1e-5)


def test_duplicate_point_corpus_reseeds_empty_clusters():
    # 3 distinct directions but k=8: >= 5 clusters go empty every round and
    # must reseed without NaNs or collapse
    base = np.eye(3, 12)
    X = np.repeat(base, 20, axis=0)
    C = _sph(X, k=8, seed=3)
    assert np.isfinite(C).all()
    assert C.shape == (8, 12)
    # the 3 real directions are all represented
    sims = C @ base.T
    assert (sims.max(axis=0) > 0.99).all()


def test_zero_rows_dropped_from_fit():
    """Zero-norm rows have no direction: they are excluded before init,
    so no centroid can be seeded dead-zero and every centroid stays unit
    norm (pre-fix they argmaxed to centroid 0 and could seed a dead one)."""
    X = np.vstack([np.zeros((5, 8)), np.eye(8)[:4]])
    C = _sph(X, k=2, seed=11)
    assert np.isfinite(C).all()
    assert np.allclose(np.linalg.norm(C, axis=1), 1.0, atol=1e-6)


def test_zero_rows_do_not_count_toward_k():
    # 5 zero rows + 1 real row cannot seed k=2 centroids
    X = np.vstack([np.zeros((5, 8)), np.eye(8)[:1]])
    with pytest.raises(ValueError, match="zero-norm"):
        _sph(X, k=2, seed=0)


def test_sample_smaller_than_k_raises():
    X = np.random.default_rng(0).standard_normal((10, 8))
    with pytest.raises(ValueError, match="sample"):
        _sph(X, k=11, seed=0)


def test_euclidean_deterministic_per_seed():
    X, _, _ = _separable()
    a = _euc(X, k=4, seed=42)
    assert a.shape == (4, 16) and a.dtype == np.float64
    assert np.array_equal(a, _euc(X, k=4, seed=42))
    assert not np.array_equal(a, _euc(X, k=4, seed=43))


def test_euclidean_keeps_zero_rows_as_points():
    # 5 zero rows + 1 real row: too few directions for the spherical fit,
    # but under Euclidean distance the zeros are an ordinary cluster
    X = np.vstack([np.zeros((5, 8)), np.eye(8)[:1]])
    C = _euc(X, k=2, seed=0)
    assert np.isfinite(C).all()
    got = sorted(map(tuple, C))
    assert got == sorted([tuple(np.zeros(8)), tuple(np.eye(8)[0])])


def test_euclidean_sample_smaller_than_k_raises():
    X = np.random.default_rng(0).standard_normal((10, 8))
    with pytest.raises(ValueError, match="sample=10"):
        _euc(X, k=11, seed=0)


def test_fit_centers_arrow_collection_path(spark):
    """_kmeans_fit_centers collects the sample as ONE Arrow table and
    views the flat values buffer (ADVICE r9: the pandas object-column path
    held a Python list per row).  Pin shape, unit norm, determinism."""
    from thesis_iceberg_spark.operators.ann import clean_embeddings
    from thesis_iceberg_spark.queries import dedup

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    clean, dim, n = clean_embeddings(df)
    c1 = dedup._kmeans_fit_centers(spark, clean, k=4, n=n, seed=5, dim=dim)
    c2 = dedup._kmeans_fit_centers(spark, clean, k=4, n=n, seed=5, dim=dim)
    assert c1.shape == (4, 8)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-6)
    assert np.array_equal(c1, c2)  # deterministic across calls


def test_fit_centers_zero_norm_heavy_corpus_falls_back_to_euclidean(spark):
    """Fewer than k non-zero rows but at least k rows: the spherical fit
    cannot seed k directions, so the fit falls back to the Euclidean
    Lloyd on the SAME collected sample (no second Spark pass)."""
    from thesis_iceberg_spark.operators.ann import clean_embeddings
    from thesis_iceberg_spark.operators.vector import collect_matrix
    from thesis_iceberg_spark.queries import dedup

    rows = [(i, [0.0] * 8) for i in range(62)]
    rows += [(62, [1.0] + [0.0] * 7), (63, [0.0, 2.0] + [0.0] * 6)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    clean, dim, n = clean_embeddings(df)
    c1 = dedup._kmeans_fit_centers(spark, clean, k=4, n=n, seed=5, dim=dim)
    c2 = dedup._kmeans_fit_centers(spark, clean, k=4, n=n, seed=5, dim=dim)
    assert c1.shape == (4, 8) and np.isfinite(c1).all()
    assert np.array_equal(c1, c2)
    X = collect_matrix(clean, "embedding", np.float32)
    expect = fit_centroids(X, 4, 5, dedup.KMEANS_LOCAL_FIT_ITERS, spherical=False)
    assert np.array_equal(c1, expect)


def test_collect_matrix_rejects_ragged_rows(spark):
    from thesis_iceberg_spark.operators.vector import collect_matrix

    df = spark.createDataFrame([([1.0, 2.0],), ([3.0],)], "embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="ragged"):
        collect_matrix(df, "embedding", np.float64)
