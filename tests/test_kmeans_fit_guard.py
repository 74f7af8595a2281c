"""The kmeans fit-sample collect must fail FAST (loud ValueError with the
sizing) when the estimated driver bytes exceed KMEANS_FIT_SAMPLE_MAX_BYTES
— never OOM mid-collect (VERDICT r15 "what's wrong" #2, guarded in r16)."""

from __future__ import annotations

import pytest


def test_fit_sample_over_budget_raises_before_any_job(spark, sf_dir):
    from thesis_iceberg_spark.queries.dedup import (
        KMEANS_FIT_SAMPLE_MAX_BYTES,
        _kmeans_fit_centers,
    )
    from thesis_iceberg_spark.operators.ann import clean_embeddings
    from thesis_iceberg_spark.sources.registry import load_table

    clean, dim, n_clean = clean_embeddings(load_table(spark, sf_dir, "embeddings"))
    # a k whose 20*k-row sample at this width must blow the byte budget
    k_bad = (KMEANS_FIT_SAMPLE_MAX_BYTES // (20 * dim * 4)) + 1
    # n is reported as if the corpus really had that many rows, so the
    # row bound min(fit_rows, n) cannot save the estimate
    with pytest.raises(ValueError, match="KMEANS_FIT_SAMPLE_MAX_BYTES"):
        _kmeans_fit_centers(
            spark, clean, k=int(k_bad), n=int(20 * k_bad + 1), seed=42, dim=dim
        )


def test_fit_sample_in_budget_still_fits(spark, sf_dir):
    from thesis_iceberg_spark.queries.dedup import _kmeans_fit_centers
    from thesis_iceberg_spark.operators.ann import clean_embeddings
    from thesis_iceberg_spark.sources.registry import load_table

    clean, dim, n_clean = clean_embeddings(load_table(spark, sf_dir, "embeddings"))
    centers = _kmeans_fit_centers(
        spark, clean, k=8, n=n_clean, seed=42, dim=dim
    )
    assert centers.shape == (8, dim)


def test_dim_is_a_required_keyword(spark):
    """A defaulted dim=0 would zero the byte estimate and silently turn
    the guard off; the call must name the width."""
    from thesis_iceberg_spark.queries.dedup import _kmeans_fit_centers

    df = spark.createDataFrame([(1, [1.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    with pytest.raises(TypeError, match="dim"):
        _kmeans_fit_centers(spark, df, k=2, n=1, seed=42)
