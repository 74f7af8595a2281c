"""KMeans-IVF ANN self-checks + hypothesis property tests for the
driver-facing comparison utilities and the semantic matcher (SURVEY.md §5:
property-based testing complements the oracle harness)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from thesis_iceberg_spark.functions.resolve import MATCH, match_column
from thesis_iceberg_spark.oracle import canonical_rows


def test_kmeans_ivf_recall_vs_brute_force(spark, sf_dir):
    from pyspark.sql import functions as F

    from thesis_iceberg_spark.operators.ann import build_ivf_index, ivf_topk
    from thesis_iceberg_spark.operators.vector import cosine
    from thesis_iceberg_spark.queries.similarity import _vecs

    e = _vecs(spark, sf_dir)
    qid = e.agg(F.min("vec_id")).first()[0]
    qv = e.filter(F.col("vec_id") == qid).select(F.col("v").alias("qv"))
    brute = (
        e.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != qid)
        .select("vec_id", cosine(F.col("v"), F.col("qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )
    truth = {r.vec_id for r in brute.collect()}

    from thesis_iceberg_spark.sources.registry import load_table

    indexed, centers = build_ivf_index(spark, load_table(spark, sf_dir, "embeddings"), k=8)
    assert centers.shape == (8, len(qv.first()[0])) and centers.dtype == np.float64
    approx = ivf_topk(spark, indexed, centers, qid, top_k=10, nprobe=4)
    got = {r.vec_id for r in approx.collect()}
    recall = len(got & truth) / len(truth)
    # nprobe=4 of k=8 scans ~half the corpus; on this synthetic data the
    # top neighbors concentrate, so recall should be substantial
    assert recall >= 0.5, f"IVF recall too low: {recall} (got {got}, truth {truth})"
    # determinism: same seed -> same assignment -> same result
    indexed2, centers2 = build_ivf_index(spark, load_table(spark, sf_dir, "embeddings"), k=8)
    assert np.array_equal(centers, centers2)
    got2 = {r.vec_id for r in ivf_topk(spark, indexed2, centers2, qid, top_k=10, nprobe=4).collect()}
    assert got == got2


def test_build_ivf_index_requires_vec_id(spark):
    from thesis_iceberg_spark.operators.ann import build_ivf_index

    with pytest.raises(ValueError, match="vec_id"):
        build_ivf_index(spark, spark.createDataFrame([([1.0, 0.0],)], "embedding ARRAY<DOUBLE>"))


# --- hypothesis properties (no Spark needed) ------------------------------


@given(
    st.lists(
        st.tuples(st.integers(-1000, 1000), st.floats(allow_nan=True, width=32), st.text(max_size=5)),
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_canonical_rows_is_order_invariant(rows):
    df1 = pd.DataFrame(rows, columns=["a", "b", "c"])
    df2 = df1.sample(frac=1.0, random_state=7)  # row shuffle
    df3 = df1[["c", "a", "b"]]  # column shuffle
    assert canonical_rows(df1) == canonical_rows(df2)
    assert canonical_rows(df1) == canonical_rows(df3)


@given(st.text(min_size=1, max_size=20), st.lists(st.text(min_size=1, max_size=20), min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_matcher_never_crashes_and_exact_always_matches(name, cols):
    r = match_column(name, cols)
    assert r.status in ("MATCH", "NO_MATCH", "AMBIGUOUS")
    if name in cols:
        exact = match_column(name, cols)
        # an exactly-present name must resolve to itself (normalized class)
        assert exact.status == MATCH
        assert exact.score == 1.0


@given(st.lists(st.sampled_from(["Phone number", "Email", "First Name", "Last Name"]), min_size=1, max_size=4, unique=True))
@settings(max_examples=50, deadline=None)
def test_matcher_deterministic(cols):
    a = match_column("phone", cols)
    b = match_column("phone", cols)
    assert a == b
