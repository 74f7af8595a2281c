"""Learned IVF index for ANN search (local quantizer fit + distributed
assignment).

similarity.py's ann_ivf_topk uses deterministic fixed centroids so it can
be value-oracled; this is the production variant: centroids LEARNED with
a seeded k-means fit, vectors assigned at "index build" time, queries
probing only the nprobe nearest buckets.

The fit is the faiss-style shape: a bounded deterministic sample (20 rows
per centroid, IVF_FIT_ROWS_FLOOR at least) is collected once via Arrow and
fit with the local seeded Euclidean Lloyd (vector.fit_centroids); the
assignment is ONE shuffle-free Arrow mapInPandas over the corpus.

At 100 TB the assignment is the write-time partition key (one pass at
ingest); a query then scans nprobe/k of the corpus — the same partition-
pruning shape as the fixed-centroid variant, with much better bucket
balance on real embedding distributions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thesis_iceberg_spark.operators.vector import collect_matrix, cosine, fit_centroids

IVF_FIT_ROWS_PER_CENTROID = 20  # quantizer quality needs tens of
# points per centroid, not the corpus (the r15 dedup-kmeans evidence)
IVF_FIT_ROWS_FLOOR = 1024  # at the small k this operator runs (k=8),
# 20*k rows is a noisy quantizer sample; a ~1k floor costs nothing at
# any scale (still a bounded driver collect) and measurably steadies
# the recall margin (0.60 -> 0.80 at sf0.1, OPTIMIZATION_r16.md #5)
IVF_LOCAL_FIT_ITERS = 20


def build_ivf_index(
    spark: SparkSession, embeddings: DataFrame, k: int = 8, seed: int = 42
) -> tuple[DataFrame, np.ndarray]:
    """Fit seeded k-means on a bounded sample of the embedding column;
    returns (corpus with a ``bucket`` column — the learned inverted-file
    assignment, the (k x d) float64 centroid matrix).

    Input contract: ``embeddings`` needs ``vec_id`` (the deterministic
    undershoot re-collect orders by it, and ivf_topk looks the query up
    by it) and ``embedding``; a frame without ``vec_id`` raises
    ValueError before any Spark job runs.

    Degenerate rows: NULL embeddings and rows whose width differs from the
    corpus's canonical dimension (the modal width) are excluded from BOTH
    fit and assignment — a wrong-width vector has no meaningful bucket.

    Fit: IVF_FIT_ROWS_PER_CENTROID rows per centroid (IVF_FIT_ROWS_FLOOR
    at least), sampled deterministically and collected once via Arrow,
    then the local Euclidean Lloyd (vector.fit_centroids).
    Assignment: one shuffle-free Arrow mapInPandas — the centroid matrix
    rides the closure (k x d doubles), argmin per batch is a single GEMM,
    ties break to the lowest centroid id."""
    if "vec_id" not in embeddings.columns:
        raise ValueError(
            "build_ivf_index: input needs a vec_id column (the fit re-collect "
            f"orders by it, ivf_topk probes by it); got {embeddings.columns}"
        )
    clean, _, n_clean = clean_embeddings(embeddings)
    if n_clean < 2:
        raise ValueError(
            "build_ivf_index: fewer than 2 clean (non-null, modal-width) "
            "embeddings — nothing meaningful to index"
        )
    # k must not exceed the CLEAN point count; callers size k off the raw
    # count, which can be larger when degenerate rows were dropped above
    k = max(2, min(k, n_clean))
    fit_rows = max(IVF_FIT_ROWS_PER_CENTROID * k, IVF_FIT_ROWS_FLOOR)
    fit_df = clean
    if n_clean > fit_rows:
        fit_df = clean.sample(fraction=min(1.0, 1.05 * fit_rows / n_clean), seed=seed)
    X = collect_matrix(fit_df, "embedding", np.float64)
    if X.shape[0] < k:
        # binomial sampling undershot k rows (probabilistically dead with
        # the 1.05 * 20x margin): deterministic bounded re-collect
        X = collect_matrix(clean.orderBy("vec_id").limit(fit_rows), "embedding", np.float64)
    C = fit_centroids(X, k, seed, IVF_LOCAL_FIT_ITERS, spherical=False)

    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(clean.schema.fields) + [StructField("bucket", IntegerType())]
    )

    def assign(batches):
        import numpy as np

        half_c2 = (C * C).sum(axis=1) * 0.5
        for pdf in batches:
            if not len(pdf):
                pdf["bucket"] = np.array([], dtype=np.int32)
                yield pdf
                continue
            A = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            # argmin ||x-c||^2 == argmin (||c||^2/2 - x.c); numpy argmin
            # returns the FIRST minimal index = lowest centroid id on ties
            pdf = pdf.copy()
            pdf["bucket"] = np.argmin(half_c2[None, :] - A @ C.T, axis=1).astype(
                np.int32
            )
            yield pdf

    indexed = clean.mapInPandas(assign, out_schema)
    return indexed, C


def clean_embeddings(embeddings: DataFrame) -> tuple[DataFrame, int, int]:
    """(clean_df, dim, count): rows restricted to the corpus's MODAL
    embedding width, NULLs dropped.

    The canonical dimension is the MOST COMMON width (ties broken toward
    the wider), not the arbitrary first row's — one truncated row ahead
    of a million good ones must not silently redefine the corpus width
    and drop the majority (review finding, round 7).  One cheap
    aggregation on size(embedding)."""
    nn = embeddings.filter(F.col("embedding").isNotNull())
    mode = (
        nn.groupBy(F.size("embedding").alias("d"))
        .count()
        .orderBy(F.col("count").desc(), F.col("d").desc())
        .first()
    )
    if mode is None:
        return nn, 0, 0
    dim = int(mode["d"])
    return nn.filter(F.size("embedding") == dim), dim, int(mode["count"])


def ivf_topk(
    spark: SparkSession,
    indexed: DataFrame,
    centers: np.ndarray,
    query_vec_id: int,
    top_k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Top-k cosine neighbors of ``query_vec_id`` probing only the nprobe
    ``centers`` (build_ivf_index's k x d matrix) closest to the query."""
    q_row = indexed.filter(F.col("vec_id") == query_vec_id).select("embedding").first()
    if q_row is None:
        raise KeyError(f"vec_id {query_vec_id} not found")
    q = np.asarray(q_row[0], dtype=np.float64)

    def cos(a, b):
        # zero-norm guard: NaN would make the probe sort arbitrary; -inf
        # deterministically ranks degenerate centroids last
        d = np.linalg.norm(a) * np.linalg.norm(b)
        return float(np.dot(a, b) / d) if d > 0 else float("-inf")

    probe = sorted(range(len(centers)), key=lambda i: (-cos(q, centers[i]), i))[:nprobe]

    qv = F.array(*[F.lit(float(x)) for x in q])
    v = F.transform("embedding", lambda x: x.cast("double"))
    return (
        indexed.filter(F.col("bucket").isin(probe))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", "bucket", cosine(v, qv).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(top_k)
    )
