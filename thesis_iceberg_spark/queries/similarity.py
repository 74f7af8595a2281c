"""Similarity search over the `embeddings` table (north-star §2B).

Approximate-nearest-neighbor over an ``array<float>`` embedding column:

  * brute-force cosine top-k — the correctness baseline; a single narrow
    pass over the corpus with a broadcast query vector, then
    TakeOrderedAndProject. At 100 TB this is one full scan: correct,
    bandwidth-bound.
  * IVF (inverted-file) top-k — the scale path: vectors are assigned to
    their nearest centroid ONCE (a write-time partitioning step in a real
    deployment), and a query probes only the nprobe closest centroid
    buckets. Turns a full scan into a partition-pruned scan.

All vector math is exact double arithmetic (element-wise float->double
cast, sequential fold) which DuckDB's ``list_dot_product`` over DOUBLE[]
reproduces bit-for-bit — verified empirically, so these have full value
oracles, not rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from thesis_iceberg_spark.operators.vector import cosine
from thesis_iceberg_spark.queries import register
from thesis_iceberg_spark.sources.registry import load_table

TOP_K = 10
N_CENTROIDS = 8  # deterministic "training": the 8 lowest vec_ids
N_PROBE = 2  # IVF buckets probed per query

# The deterministic query vector: the row with the lowest vec_id.
_SQL_QUERY_VEC = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings ORDER BY vec_id LIMIT 1)"


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def _int8_quantize(col: Column) -> Column:
    """floor(x*s + 0.5) under the in-scope corpus scale column ``s`` —
    the ONE quantization expression (r12 review: this closure existed in
    three copies; a drift between them would silently break the
    'identical by construction' parity the int8 family's tests pin)."""
    return F.transform(col, lambda x: F.floor(x * F.col("s") + F.lit(0.5)))


def _int8_dot(a: Column, b: Column) -> Column:
    """Exact bigint dot product of two integer arrays (sequential fold,
    same shape every engine computes identically)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + p,
    )


@register(
    "ann_cosine_topk",
    oracle=f"""
WITH q AS (SELECT {_SQL_QUERY_VEC} AS qv),
scored AS (
  SELECT vec_id, label,
         list_dot_product(CAST(embedding AS DOUBLE[]), qv)
           / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
              * sqrt(list_dot_product(qv, qv))) AS cosine
  FROM embeddings, q
  WHERE vec_id != (SELECT MIN(vec_id) FROM embeddings))
SELECT vec_id, label, cosine FROM scored
ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
""",
    doc=f"Brute-force cosine top-{TOP_K} for the lowest-vec_id query vector. "
    "Query vector broadcasts (scalar subquery); corpus is scanned once; "
    "top-k via TakeOrderedAndProject (per-partition heaps, no global sort).",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir)
    qv = e.orderBy("vec_id").limit(1).select(F.col("v").alias("qv"), F.col("vec_id").alias("qid"))
    return (
        e.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "label", cosine(F.col("v"), F.col("qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def _assign_nearest_centroid(e: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, label, v, bucket): every vector of ``e`` assigned to its
    max-cosine centroid from the tiny broadcast ``cent`` (cid, cv) —
    ties to the LOWEST cid, NULL cosines (zero-norm rows) last.

    Top-1-per-vector as MAX(struct(cos_c, -cid, label, v)) under a
    groupBy(vec_id), not a row_number window (r16 optimization round;
    the extended.py:69 asof shape).  Equivalence to the window's
    (cos_c DESC, cid ASC) rn=1: struct comparison is lexicographic and
    (cos_c, -cid) is a total order within a vector (cid unique), so the
    payload fields never decide; Spark orders a NULL struct field below
    non-NULL, matching the window's DESC NULLS LAST; all-NULL-cosine
    vectors fall through to max(-cid) = min cid, the window tie-break.
    Shared by ann_ivf_topk and ann_batch_topk (identical assignment
    semantics by construction; both value-oracled)."""
    top = F.max(
        F.struct(
            cosine(F.col("v"), F.col("cv")).alias("cos_c"),
            (-F.col("cid")).alias("ncid"),
            F.col("label").alias("label"),
            F.col("v").alias("v"),
        )
    ).alias("top")
    return (
        e.crossJoin(F.broadcast(cent))
        .groupBy("vec_id")
        .agg(top)
        .select(
            "vec_id",
            F.col("top.label").alias("label"),
            F.col("top.v").alias("v"),
            (-F.col("top.ncid")).alias("bucket"),
        )
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {N_CENTROIDS}),
assigned AS (
  SELECT vec_id, label, v,
         (SELECT cid FROM cent
          ORDER BY list_dot_product(v, cv)
                / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) DESC,
                cid
          LIMIT 1) AS bucket
  FROM e),
q AS (SELECT v AS qv, vec_id AS qid FROM e ORDER BY vec_id LIMIT 1),
probe AS (
  SELECT cid FROM cent, q
  ORDER BY list_dot_product(qv, cv)
        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC, cid
  LIMIT {N_PROBE})
SELECT a.vec_id, a.label,
       list_dot_product(a.v, q.qv)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine,
       a.bucket
FROM assigned a, q
WHERE a.bucket IN (SELECT cid FROM probe) AND a.vec_id != q.qid
ORDER BY cosine DESC, a.vec_id LIMIT {TOP_K}
""",
    doc=f"IVF-bucketed ANN: {N_CENTROIDS} deterministic centroids (lowest "
    f"vec_ids), every vector assigned to its max-cosine centroid, query "
    f"probes its {N_PROBE} closest buckets only. The assignment is the "
    "write-time partition key at scale — the query then reads ~nprobe/k of "
    "the corpus (partition pruning) instead of all of it.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir)
    cent = (
        e.orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    # assign every vector to its nearest (max-cosine) centroid: broadcast
    # the tiny centroid table against the corpus, then take the per-vector
    # top-1 as a MAX(struct) aggregation, not a row_number window (r16
    # optimization round — the extended.py:69 asof shape, guide §2.3/§2.4):
    # struct ordering is lexicographic on (cos_c, -cid), which is exactly
    # the window's (cos_c DESC, cid ASC) top-1 — cid is unique within a
    # vector so the ordering is total and the label/v payload fields are
    # never compared; a NULL cos_c (zero-norm vector or centroid,
    # try_divide) sorts below every non-NULL struct, matching the
    # window's DESC NULLS LAST, and an all-NULL-cosine vector falls to
    # max(-cid) = min cid, the window's tie-break.  The plan drops the
    # Window + rn-filter pass for a partial-aggregating SortAggregate
    # (<= 1 row per vector per task crosses the exchange).
    assigned = _assign_nearest_centroid(e, cent)
    q = e.orderBy("vec_id").limit(1).select(F.col("v").alias("qv"), F.col("vec_id").alias("qid"))
    probe = (
        cent.crossJoin(F.broadcast(q))
        .select("cid", cosine(F.col("qv"), F.col("cv")).alias("cos_q"))
        .orderBy(F.col("cos_q").desc(), F.col("cid"))
        .limit(N_PROBE)
        .select("cid")
    )
    return (
        assigned.join(F.broadcast(probe), assigned.bucket == probe.cid, "left_semi")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "label", cosine(F.col("v"), F.col("qv")).alias("cosine"), "bucket")
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


@register(
    "ann_ivf_kmeans_topk",
    oracle=f"""
SELECT CAST({TOP_K} AS BIGINT) AS top_k,
       CAST({TOP_K} AS BIGINT) AS n_returned,
       TRUE AS recall_ok
""",
    doc="Production IVF variant: centroids LEARNED with a seeded local "
    "Euclidean Lloyd fit on a bounded sample (operators/vector.py), corpus "
    "bucketed at index-build time, query probes its 4 "
    "nearest of 8 buckets. The neighbor list itself is model-driven (no SQL "
    "oracle), so the oracle-able form is a SELF-CHECK: the query computes "
    "recall@10 against the exact brute-force top-10 IN SPARK and returns "
    "(top_k, n_returned, recall_ok = recall >= 0.5). Seeded KMeans makes "
    "this deterministic; tests/test_ann_properties.py checks the raw "
    "neighbor list for recall and run-to-run determinism.",
)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as FF

    from thesis_iceberg_spark.operators.ann import build_ivf_index, ivf_topk

    corpus = load_table(spark, sf_dir, "embeddings")
    indexed, centers = build_ivf_index(spark, corpus, k=N_CENTROIDS)
    # qid from the INDEXED corpus, not the raw one: build_ivf_index drops
    # NULL/ragged rows, and a degenerate raw-minimum row would make
    # ivf_topk's lookup raise KeyError (review finding, round 7)
    qid = indexed.agg(FF.min("vec_id")).first()[0]
    ivf = ivf_topk(spark, indexed, centers, qid, top_k=TOP_K, nprobe=4)

    # exact brute-force top-k (the recall denominator), all Spark-side
    e = _vecs(spark, sf_dir)
    qv = e.filter(F.col("vec_id") == qid).select(F.col("v").alias("qv"))
    exact = (
        e.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != qid)
        .select("vec_id", cosine(F.col("v"), F.col("qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
        .select("vec_id", F.lit(True).alias("in_exact"))
    )
    return (
        ivf.select("vec_id")
        .join(F.broadcast(exact), "vec_id", "left")
        .agg(
            F.count("*").alias("n_returned"),
            F.sum(F.when(F.col("in_exact"), 1).otherwise(0)).alias("n_hits"),
        )
        .select(
            F.lit(TOP_K).cast("long").alias("top_k"),
            "n_returned",
            (F.col("n_hits") / F.lit(TOP_K) >= F.lit(0.5)).alias("recall_ok"),
        )
    )


N_BATCH_Q = 8  # batch query set: the 8 lowest vec_ids
BATCH_TOP_K = 5


@register(
    "ann_batch_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {N_CENTROIDS}),
assigned AS (
  SELECT vec_id, label, v,
         (SELECT cid FROM cent
          ORDER BY list_dot_product(v, cv)
                / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) DESC,
                cid
          LIMIT 1) AS bucket
  FROM e),
q AS (SELECT vec_id AS qid, v AS qv FROM e ORDER BY vec_id LIMIT {N_BATCH_Q}),
probe AS (
  SELECT qid, cid FROM (
    SELECT q.qid, cent.cid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY list_dot_product(q.qv, cent.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(cent.cv, cent.cv))) DESC, cent.cid) AS rn
    FROM q, cent) WHERE rn <= {N_PROBE}),
scored AS (
  SELECT p.qid, a.vec_id, a.label,
         list_dot_product(a.v, q.qv)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM probe p JOIN assigned a ON a.bucket = p.cid
  JOIN q ON q.qid = p.qid
  WHERE a.vec_id != p.qid)
SELECT qid, vec_id, label, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
  FROM scored) WHERE rn <= {BATCH_TOP_K}
""",
    doc=f"Batch ANN / KNN-JOIN: top-{BATCH_TOP_K} neighbors for EVERY query "
    f"in a {N_BATCH_Q}-query set in ONE plan — the shape embedding-dedup "
    "and retrieval-eval jobs actually run, where per-query loops would be "
    f"{N_BATCH_Q} separate scans. Spark shape: corpus bucketed once by its "
    "nearest of 8 deterministic centroids (the write-time partition key at "
    "scale), the tiny query table broadcast to rank probe buckets, then "
    "ONE equi-join bucket==probe fans candidates out per query and a "
    "window per qid takes the top-k (partial top-k per partition before "
    "the final shuffle). Probing nprobe/k of the corpus per query keeps "
    "the join input ~nprobe/k * |corpus| * |queries| / |queries| rows — "
    "not a |corpus| x |queries| cartesian (plan-gated).",
)
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _vecs(spark, sf_dir)
    cent = (
        e.orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    # per-vector top-1 centroid as a MAX(struct) aggregation — see
    # _assign_nearest_centroid for the window-equivalence argument
    assigned = _assign_nearest_centroid(e, cent)
    q = (
        e.orderBy("vec_id")
        .limit(N_BATCH_Q)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    )
    w_probe = Window.partitionBy("qid").orderBy(F.col("cos_q").desc(), F.col("cid"))
    probe = (
        q.crossJoin(F.broadcast(cent))
        .select("qid", "qv", "cid", cosine(F.col("qv"), F.col("cv")).alias("cos_q"))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= N_PROBE)
        .select("qid", "qv", F.col("cid").alias("bucket"))
    )
    w_rank = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        assigned.join(F.broadcast(probe), "bucket")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "label", cosine(F.col("v"), F.col("qv")).alias("cosine"))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= BATCH_TOP_K)
        .select("qid", "vec_id", "label", "cosine")
    )


# --- int8 scalar-quantized ANN (quantize -> integer shortlist -> rerank) ----

# Symmetric scalar quantization: one corpus-wide scale s = 127 / max|x|,
# q[i] = floor(x[i]*s + 0.5) in [-127, 127].  The quantized dot product is
# EXACT INTEGER arithmetic (|dot| <= 127^2 * D << 2^63), so unlike the
# cosine rankings this shortlist has no floating-point tie anxiety at all
# and the oracle compares it value-for-value.  floor(x*s + 0.5) is chosen
# over round() deliberately: numpy/Java round() is banker's rounding,
# DuckDB round() is half-away — floor(+0.5) is the one rounding both
# engines (and numpy, for tests) compute identically from the same IEEE
# double product.
#
# The shortlist OVERSAMPLES (SHORTLIST_K = 4k) before the rerank: on an
# iid-normal 1e6x64 corpus the true top-10 are near-ties separated by
# margins below the quantization noise.  The measured recall ladder
# (tests/exp_int8_scan_bench.py, 1e6x64): same-size shortlist 4/10 of
# the exact top-10, the shipped 4x rung 6/10, x10 8/10 — oversampling
# buys recall monotonically but even x10 does NOT fully recover the
# exact top-10 on a near-tie corpus; the 4x default is the measured
# knee, not an exactness guarantee (raise SHORTLIST_K for tighter
# corpora).  Oversample-then-rerank is the standard scalar-quantization
# recipe and is cheap at query time (the shortlist heap grows from k to
# 4k entries per task).
Q_SCALE_TOP = 127.0
SHORTLIST_K = 4 * TOP_K

# Hard ceiling on any driver-side point-lookup list (VERDICT r11 #7 /
# DEVNOTES #5): the stored-int8 rerank collects the shortlist ids and
# pushes them as an `isin` filter — legitimate ONLY while the list is a
# small constant.  If SHORTLIST_K is ever retuned to scale with the
# corpus (recall ladders sometimes do), the collect becomes corpus data
# on the driver and the pushed filter becomes a megabyte-long predicate:
# at that point the rerank must switch to a broadcast semi-join on the
# checkpointed shortlist frame (`top.join(base, "vec_id")` with the
# 40-row side auto-broadcast) — the code change is small, so this guard
# fails LOUDLY instead of degrading silently.
ISIN_POINT_LIST_MAX = 1024


@register(
    "ann_int8_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sc AS (SELECT {Q_SCALE_TOP} / MAX(list_max(list_transform(v, x -> abs(x)))) AS s FROM e),
q AS (SELECT vec_id AS qid, v AS qv,
             list_transform(v, x -> CAST(floor(x * s + 0.5) AS BIGINT)) AS qq
      FROM e, sc ORDER BY vec_id LIMIT 1),
scored AS (
  SELECT e.vec_id, e.label, e.v, q.qv,
         CAST(list_dot_product(
                CAST(list_transform(e.v, x -> CAST(floor(x * s + 0.5) AS BIGINT))
                     AS DOUBLE[]),
                CAST(q.qq AS DOUBLE[])) AS BIGINT) AS qdot
  FROM e, sc, q WHERE e.vec_id != q.qid),
top AS (SELECT * FROM scored ORDER BY qdot DESC, vec_id LIMIT {SHORTLIST_K}),
reranked AS (
  SELECT vec_id, label, qdot,
         list_dot_product(v, qv)
           / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
             AS cosine
  FROM top)
SELECT vec_id, label, qdot, cosine
FROM reranked ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
""",
    doc=f"Scalar-quantized (int8) ANN: the corpus is quantized with ONE "
    "symmetric scale (127/max|x|, a single tiny aggregate broadcast back), "
    f"a {SHORTLIST_K}-row shortlist (4x oversampled — see the module "
    "comment: same-size shortlists lose near-tie neighbors to "
    "quantization noise) is selected by the EXACT INTEGER quantized dot "
    f"product, and only those rows are reranked by the full-precision "
    f"cosine into the final top-{TOP_K}. At 100 TB the quantized column is materialized at write time: "
    "the shortlist scan then reads 1/4 the bytes of the f32 corpus (int8 "
    "vs float) and stays a narrow map + TakeOrderedAndProject — the "
    "rerank touches k full-precision vectors, not the corpus. Both output "
    "columns are exact cross-engine (integer dot; cosine is the "
    "sqrt/mul/div-only form every ANN oracle here uses), so this is a "
    "FULL value oracle — stronger than the recall self-checks the "
    "model-driven ANN variants carry.",
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir)
    # one-row corpus scale; try_divide -> NULL (not Infinity) on an
    # all-zero corpus, matching DuckDB where x/0 is NULL for doubles too
    sc = e.agg(
        F.try_divide(
            F.lit(Q_SCALE_TOP),
            F.max(F.array_max(F.transform("v", lambda x: F.abs(x)))),
        ).alias("s")
    )

    _q8 = _int8_quantize

    q = (
        e.orderBy("vec_id")
        .limit(1)
        .crossJoin(F.broadcast(sc))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            _q8(F.col("v")).alias("qq"),
        )
    )
    qdot = F.aggregate(
        F.zip_with(_q8(F.col("v")), F.col("qq"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + p,
    )
    top = (
        e.crossJoin(F.broadcast(sc))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "label", "v", "qv", qdot.alias("qdot"))
        .orderBy(F.col("qdot").desc(), F.col("vec_id"))
        .limit(SHORTLIST_K)
    )
    # the RERANK: selection was by quantized dot over the 4x-oversampled
    # shortlist, the final top-k ranking is by the full-precision cosine
    # of those survivors (review r10 — emitting the cosine without
    # re-ordering would leave head(n<k) consumers with the quantized
    # order, exactly the error a rerank exists to fix; the oversample
    # covers near-tie neighbors the int8 grid cannot separate)
    return (
        top.select(
            "vec_id", "label", "qdot", cosine(F.col("v"), F.col("qv")).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


# --- int8 write-time materialization through the table layer (r11) ----------
#
# The registered ann_int8_topk quantizes INLINE (one aggregate + a narrow
# map) because the driver hands it a plain parquet dir; at 100 TB the
# quantized column is a WRITE-TIME artifact instead.  These two functions
# demonstrate that claim end-to-end through the versioned table layer:
# quantize_embeddings_table CTASes a VersionedTable whose int8 column (a
# real array<tinyint>, 1/4 the bytes of the float vectors on disk) and
# corpus scale (a table property — it must ride WITH the data, since a
# reader quantizing its query vector under a different scale gets garbage
# integer dots) are computed once at write; ann_int8_topk_stored answers
# the SAME query by scanning ONLY (vec_id, label, q) for the integer
# shortlist — parquet column pruning never touches the float column until
# the rerank, which reads the SHORTLIST_K survivors through a broadcast
# semi-join, not the corpus.  tests/test_ann_int8_stored.py proves the
# stored path returns the identical top-k and measures the on-disk column
# bytes.

INT8_SCALE_PROP = "int8.scale"


def quantize_embeddings_table(
    spark: SparkSession, raw: DataFrame, location: str
):
    """Write-time quantization: CTAS a VersionedTable with the original
    float vectors PLUS the int8 column, and the corpus scale pinned in
    TBLPROPERTIES.  Returns (table, scale).  repr(float) round-trips the
    IEEE double exactly, so readers recompute bit-identical query
    quantization."""
    from thesis_iceberg_spark.tablefmt.table import VersionedTable

    (s,) = raw.agg(
        F.try_divide(
            F.lit(Q_SCALE_TOP),
            F.max(
                F.array_max(
                    F.transform("embedding", lambda x: F.abs(x.cast("double")))
                )
            ),
        ).alias("s")
    ).first()
    if s is None:
        raise ValueError("cannot quantize an empty/all-zero corpus")
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(float(s)) + F.lit(0.5)).cast(
            "tinyint"
        ),
    )
    # the float column is stored AS-IS (f32): the honest on-disk claim is
    # int8 = 1/4 the bytes of the f32 corpus; the rerank casts to double
    # at read time exactly like the inline query's _vecs does
    df = raw.select("vec_id", "label", "embedding", q.alias("q"))
    table = VersionedTable.create(
        spark, location, df=df, properties={INT8_SCALE_PROP: repr(float(s))}
    )
    return table, float(s)


def _stored_query_row(table):
    """Shared stored-table reader kernel (review r12: this existed as two
    verbatim copies in the top-k and range readers and would have
    drifted): the NARROW (vec_id, label, q) corpus frame, the min-vec_id
    query id (narrow scan only — int8 column, never floats), and the
    query row's floats POINT-READ through a pushed vec_id predicate and
    quantized under the TABLE-PROPERTY scale (the external-query-vector
    path, bit-identical to the stored column by construction).  Returns
    (base, narrow, qid, qrow) with qrow one row of (qv, qq)."""
    s = float(table.properties[INT8_SCALE_PROP])
    base = table.read()
    narrow = base.select("vec_id", "label", F.col("q"))
    (qid,) = narrow.agg(F.min("vec_id")).first()
    qrow = base.filter(F.col("vec_id") == qid).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(s) + F.lit(0.5)),
        ).alias("qq"),
    )
    return base, narrow, qid, qrow


def ann_int8_topk_stored(spark: SparkSession, table, rerank: str = "isin") -> DataFrame:
    """ann_int8_topk over a quantize_embeddings_table output.

    The reader pattern the write-time artifact exists for (review r11 —
    the first version scanned the float column twice and never used the
    stored scale):

      1. the query id comes from the NARROW scan (int8 column only);
      2. the query vector is a pushed-predicate POINT READ of its float
         row, quantized with the TABLE-PROPERTY scale — exactly what a
         reader does for an external query vector, and bit-identical to
         the stored column by construction (same floor(x*s+0.5), same
         IEEE double s via repr round-trip);
      3. the integer shortlist is one narrow scan + TakeOrdered;
      4. the full-precision rerank reads ONLY the shortlist survivors.

    ``rerank`` picks how step 4 fetches the survivor floats:
      * 'isin' (default) — collect the ids and push them as a filter:
        the parquet scan itself skips non-survivor row groups, ideal
        while the shortlist is a small CONSTANT (guarded by
        ISIN_POINT_LIST_MAX — the list rides in the plan and on the
        driver, so it must never scale with the corpus);
      * 'semi_join' — broadcast the checkpointed shortlist frame and
        hash-join the float scan against it: no driver-side id list at
        any shortlist size, at the cost of scanning (vec_id, embedding)
        without a pushed point filter.  This is the documented escape
        hatch for the day SHORTLIST_K is retuned to scale (VERDICT r11
        #7 / DEVNOTES #5) — tests/test_ann_int8_stored.py pins that
        both modes return the identical top-k."""
    if rerank not in ("isin", "semi_join"):
        raise ValueError(f"rerank must be 'isin' or 'semi_join', got {rerank!r}")
    # guard BEFORE any job runs (review r12: checking after the
    # orderBy+checkpoint+collect would let the driver-side hazard happen
    # first — len(ids) <= SHORTLIST_K by construction, so the constant
    # comparison at entry IS the whole contract)
    if rerank == "isin" and SHORTLIST_K > ISIN_POINT_LIST_MAX:
        raise ValueError(
            f"SHORTLIST_K={SHORTLIST_K} exceeds "
            f"ISIN_POINT_LIST_MAX={ISIN_POINT_LIST_MAX}: an isin pushed "
            "filter is only sane for a constant-bounded shortlist — "
            "call with rerank='semi_join' (broadcast semi-join on the "
            "checkpointed shortlist frame; see the comment at "
            "ISIN_POINT_LIST_MAX)"
        )
    base, narrow, qid, qrow = _stored_query_row(table)
    as_f64 = F.transform("embedding", lambda x: x.cast("double"))
    qdot = F.aggregate(
        F.zip_with(F.col("q"), F.col("qq"), lambda a, b: a.cast("bigint") * b),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + p,
    )
    top = (
        narrow.crossJoin(F.broadcast(qrow.select("qq")))
        .filter(F.col("vec_id") != qid)
        .select("vec_id", "label", qdot.alias("qdot"))
        .orderBy(F.col("qdot").desc(), F.col("vec_id"))
        .limit(SHORTLIST_K)
        .localCheckpoint(eager=True)  # reused: id list + rerank join
    )
    if rerank == "semi_join":
        # no driver-side id list: the checkpointed <= SHORTLIST_K-row
        # frame broadcasts and the float scan hash-joins against it
        rerank_vecs = base.join(
            F.broadcast(top.select("vec_id")), "vec_id"
        ).select("vec_id", as_f64.alias("v"))
    else:
        ids = [r["vec_id"] for r in top.select("vec_id").collect()]  # <= SHORTLIST_K
        if not ids:  # single-row table: no candidates
            return top.select(
                "vec_id", "label", "qdot", F.lit(None).cast("double").alias("cosine")
            )
        rerank_vecs = base.filter(F.col("vec_id").isin(ids)).select(
            "vec_id", as_f64.alias("v")
        )
    return (
        top.join(rerank_vecs, "vec_id")
        .crossJoin(F.broadcast(qrow.select("qv")))
        .select(
            "vec_id", "label", "qdot", cosine(F.col("v"), F.col("qv")).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


# --- threshold (radius) similarity search (r12) ------------------------------
#
# The ANN family above is all top-k; the OTHER retrieval API a vector
# store serves is RANGE SEARCH — "every vector within similarity tau of
# the query" (FAISS range_search; near-dup mining and dedup-adjacent
# retrieval want a threshold, not a count, because the right k is
# unknowable per query).  The exactness trick mirrors ann_int8_topk:
# membership is decided on the EXACT INTEGER quantized dot against an
# integer rational threshold (qdot * DEN >= qself * NUM — cross-
# multiplied so no division ever happens), so the result SET is
# value-oracle-exact cross-engine, unlike a float-cosine cutoff whose
# 1-ulp noise could flip boundary rows between engines.

# tau = 3/10 of the query's self dot-product: the data-adaptive radius.
# Measured on the driver corpora so BOTH arms are real (kept / excluded):
# 5 matches of 499 at sf0.001, 3/499 at sf0.01, 13/1999 at sf0.1.
RANGE_NUM = 3
RANGE_DEN = 10


# shared by the inline registration AND the r13 stored-table one: the
# stored path re-quantizes the query row under the table-property scale
# (bit-identical to the write-time column by construction) and the int8
# column stores the same floor(x*s+0.5) integers, so ONE oracle covers
# both — any drift between the two readers shows up as a driver mismatch
_RANGE_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sc AS (SELECT {Q_SCALE_TOP} / MAX(list_max(list_transform(v, x -> abs(x)))) AS s FROM e),
q AS (SELECT vec_id AS qid,
             list_transform(v, x -> CAST(floor(x * s + 0.5) AS BIGINT)) AS qq
      FROM e, sc ORDER BY vec_id LIMIT 1),
qs AS (SELECT qid, qq,
              CAST(list_dot_product(CAST(qq AS DOUBLE[]), CAST(qq AS DOUBLE[]))
                   AS BIGINT) AS qself
       FROM q),
scored AS (
  SELECT e.vec_id, e.label, qs.qself,
         CAST(list_dot_product(
                CAST(list_transform(e.v, x -> CAST(floor(x * s + 0.5) AS BIGINT))
                     AS DOUBLE[]),
                CAST(qs.qq AS DOUBLE[])) AS BIGINT) AS qdot
  FROM e, sc, qs WHERE e.vec_id != qs.qid)
SELECT vec_id, label, qdot, qself
FROM scored
WHERE qdot * {RANGE_DEN} >= qself * {RANGE_NUM}
ORDER BY qdot DESC, vec_id
"""


@register(
    "ann_int8_range_search",
    oracle=_RANGE_ORACLE,
    doc=f"Range (radius) similarity search: every vector whose EXACT "
    f"integer int8-quantized dot with the query reaches "
    f"{RANGE_NUM}/{RANGE_DEN} of the query's self-dot — the threshold "
    "compare is integer cross-multiplication, so set membership is "
    "bit-exact cross-engine (a float-cosine cutoff would be 1-ulp "
    "fragile at the boundary). Plan: one-row scale + query closures "
    "broadcast, a NARROW zero-shuffle scan-and-filter over the corpus, "
    "and a sort of the matches only. At 100 TB the scan reads the "
    "write-time int8 column (1/4 the f32 bytes, quantize_embeddings_table) "
    "and the filter prunes before anything wide happens.",
)
def ann_int8_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir)
    sc = e.agg(
        F.try_divide(
            F.lit(Q_SCALE_TOP),
            F.max(F.array_max(F.transform("v", lambda x: F.abs(x)))),
        ).alias("s")
    )

    _q8, _idot = _int8_quantize, _int8_dot

    q = (
        e.orderBy("vec_id")
        .limit(1)
        .crossJoin(F.broadcast(sc))
        .select(
            F.col("vec_id").alias("qid"),
            _q8(F.col("v")).alias("qq"),
        )
        .select("qid", "qq", _idot(F.col("qq"), F.col("qq")).alias("qself"))
    )
    # FILTER FIRST, project qdot for survivors only: Catalyst pushes a
    # predicate on an aliased column through the projection by
    # substituting the alias, and HOF lambdas are excluded from codegen
    # subexpression elimination (SPARK-35410) — a select-then-filter
    # form would pay the O(dim) quantize+dot TWICE per corpus row
    # (review r12).  This way the corpus pays it once in the filter and
    # only the handful of survivors re-evaluate it in the output
    # projection.
    qdot = _idot(_q8(F.col("v")), F.col("qq"))
    return (
        e.crossJoin(F.broadcast(sc))
        .crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("qid"))
            & (qdot * RANGE_DEN >= F.col("qself") * RANGE_NUM)
        )
        .select("vec_id", "label", qdot.alias("qdot"), "qself")
        .orderBy(F.col("qdot").desc(), F.col("vec_id"))
    )


def ann_int8_range_search_stored(
    spark: SparkSession,
    table,
    num: int = RANGE_NUM,
    den: int = RANGE_DEN,
) -> DataFrame:
    """Range search over a quantize_embeddings_table output — the 100 TB
    shape the registered query's doc names: the corpus side of the scan
    touches ONLY (vec_id, label, q), i.e. the write-time int8 column at
    1/4 the float bytes (parquet column pruning, plan-gated in
    tests/test_ann_range.py), with the query row's floats point-read and
    quantized under the TABLE-PROPERTY scale exactly like
    ann_int8_topk_stored.  Same integer cross-multiplied threshold as
    the inline query, so results are identical by construction."""
    _base, narrow, qid, qrow = _stored_query_row(table)
    qq_self = F.aggregate(
        F.zip_with(F.col("qq"), F.col("qq"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + p,
    )
    qrow = qrow.select("qq", qq_self.alias("qself"))
    qdot = F.aggregate(
        F.zip_with(F.col("q"), F.col("qq"), lambda a, b: a.cast("bigint") * b),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + p,
    )
    # filter-first for the same pushed-predicate reason as the inline
    # query: the corpus pays the integer dot once, survivors re-project
    return (
        narrow.crossJoin(F.broadcast(qrow))
        .filter(
            (F.col("vec_id") != qid)
            & (qdot * den >= F.col("qself") * num)
        )
        .select("vec_id", "label", qdot.alias("qdot"), "qself")
        .orderBy(F.col("qdot").desc(), F.col("vec_id"))
    )


_QUANT_BUILT: dict[str, str] = {}  # sf_dir -> table location in THIS process

# Dedicated artifact root (r15 review passes 3-4): /tmp/tisw_checks is
# shared with tablefmt_checks, whose dir names are BARE corpus basenames
# — which can be anything, so neither name-shape scoping (pass 3 #2: a
# basename ending '_'+12hex collides) nor a subdir (pass 4 #1: a corpus
# literally named 'quant' collides) makes a sweep inside that tree safe.
# A sibling root only this module writes removes the collision class.
_QUANT_ROOT = "/tmp/tisw_quant"


def _touch_artifact(d: str) -> bool:
    """Best-effort keep-alive mtime refresh on an artifact dir.  Returns
    False when the dir is GONE (a peer's age-based GC swept it) — the
    caller's signal to drop its memo and rebuild rather than hand out a
    dangling location (r15 review pass 3 #1)."""
    import os

    try:
        os.utime(d)
        return True
    except FileNotFoundError:
        return False
    except OSError:
        return True  # exists but not touchable (perms): still usable


def _quantized_table(spark: SparkSession, sf_dir: str):
    """Build-once-per-(corpus STATE) quantized embeddings table under
    /tmp — the tablefmt_checks._BUILT pattern: the registered stored
    reader needs a write-time artifact, and rebuilding the CTAS per call
    would re-pay the quantization pass for identical state.

    Concurrency + reuse contract (ADVICE r13): the shared location is
    NEVER rmtree'd — a completed artifact (signalled by a _COMPLETE
    marker written only after the CTAS finishes) is detected and REUSED,
    so a second process on the same corpus neither deletes the table the
    first is mid-scan on nor re-pays the build.  A fresh build happens
    in a private per-(pid, uuid) directory and is PUBLISHED by one
    atomic os.rename (table metadata stores location-relative paths, so
    a renamed table reads correctly); the rename loser keeps its private
    copy — correct either way, never a torn read.  Staleness is handled
    by keying the tag on the embeddings parquet's (size, mtime) — if the
    driver regenerates the corpus in place, the tag changes and the old
    artifact is simply never matched again."""
    import hashlib
    import os
    import shutil
    import uuid

    from thesis_iceberg_spark.tablefmt.table import VersionedTable

    # normalize ONCE and key everything (cache dict AND on-disk tag) on
    # the abspath: a relative sf_dir that means different corpora under
    # different cwds must never alias, and two spellings of one dir must
    # never double-build (reviews r13 #1 and #5)
    sf_dir = os.path.abspath(sf_dir)
    if sf_dir in _QUANT_BUILT:
        loc = _QUANT_BUILT[sf_dir]
        # keep-alive on EVERY hit, not just first entry (r15 review
        # pass 2 #3): a >1-day session serves from this memo without
        # ever re-entering the build path, and reads never refresh the
        # artifact dir's mtime — so another process's age-based GC
        # would sweep a table this process is actively scanning.  One
        # utime per call is noise next to the query itself.  A GONE dir
        # (swept despite the defenses) pops the memo and falls through
        # to the rebuild path instead of returning a dangling location
        # (r15 review pass 3 #1).
        tag_dir = os.path.dirname(loc)
        if os.path.dirname(tag_dir) != _QUANT_ROOT or _touch_artifact(
            tag_dir
        ):
            return VersionedTable(spark, loc)
        _QUANT_BUILT.pop(sf_dir, None)  # pop, not del: two concurrent
        # callers can both observe the swept artifact (pass 4 #3)
    src = os.path.join(sf_dir, "embeddings.parquet")

    def _src_state(path: str) -> str:
        """Content fingerprint of the embeddings source.  For a
        directory-shaped parquet (Spark-written part files) the PARENT
        dir's size/mtime does not track in-place part rewrites that keep
        the same names (r14 review #4) — hash the (name, size, mtime)
        listing instead; a plain file uses its own stat."""
        try:
            if os.path.isdir(path):
                h = hashlib.md5()
                for name in sorted(os.listdir(path)):
                    sp = os.stat(os.path.join(path, name))
                    h.update(
                        f"{name}:{sp.st_size}:{sp.st_mtime_ns};".encode()
                    )
                return h.hexdigest()
            st = os.stat(path)
            return f"{st.st_size}:{st.st_mtime_ns}"
        except OSError:
            return "nostat"  # unreadable layout: path-only key (each
            # process still builds consistently; never serves a WRONG
            # corpus because the tag still includes the abspath)

    state = _src_state(src)
    tag = (
        os.path.basename(os.path.normpath(sf_dir))
        + "_"
        + hashlib.md5(f"{sf_dir}|{state}".encode()).hexdigest()[:12]
    )
    shared = os.path.join(_QUANT_ROOT, tag)
    loc = os.path.join(shared, "emb_int8_vt")

    # Opportunistic GC (ADVICE r14 #2): every corpus (size, mtime)
    # change mints a fresh tag dir, and squatter-evicted '*.stale-*' /
    # race-losing '*.build-*' dirs would otherwise persist forever —
    # unbounded /tmp growth across regenerating drivers.  The sweep
    # owns _QUANT_ROOT outright (nothing else writes there — r15 review
    # pass 3 #2 moved the store out of the shared /tmp/tisw_checks
    # parent, where name-shape scoping could still collide with a
    # tablefmt corpus dir ending in '_'+12hex).  Prune entries older
    # than 1 day, PROTECTING (age alone is not proof of death):
    #   * the current tag (reuse stays intact), whose mtime is also
    #     REFRESHED on every entry AND every memo hit above, so a
    #     process that queries at least daily keeps its artifact young
    #     for every other process's GC;
    #   * every location this process memoized in _QUANT_BUILT — reads
    #     never update a dir's mtime;
    #   * '*.build-<pid>-*' / '*.stale-<pid>-*' entries whose pid is
    #     still alive (/proc check — a race-losing live process may be
    #     scanning its kept private build; pid reuse only over-keeps).
    # Runs once per (process, sf_dir) thanks to the _QUANT_BUILT memo.
    def _gc_store(root: str, keep: str, max_age_sec: int = 86400) -> None:
        import re
        import time

        # ANCHORED (pass 4 #4): an unanchored search could extract a
        # bogus always-alive "pid" out of a corpus basename like
        # 'runs.build-1-x', permanently protecting its stale tags
        pid_of = re.compile(r"\.(?:build|stale)-(\d+)-[0-9a-f]+$")
        now = time.time()
        try:
            names = os.listdir(root)
        except OSError:
            return
        protected = {keep}
        for mloc in _QUANT_BUILT.values():
            rel = os.path.relpath(mloc, root)
            if not rel.startswith(".."):
                protected.add(rel.split(os.sep, 1)[0])
        for name in names:
            if name in protected:
                continue
            p = os.path.join(root, name)
            m = pid_of.search(name)
            if m and os.path.exists(f"/proc/{m.group(1)}"):
                continue
            try:
                if now - os.stat(p).st_mtime < max_age_sec:
                    continue
            except OSError:
                continue
            shutil.rmtree(p, ignore_errors=True)

    _gc_store(_QUANT_ROOT, tag)
    if os.path.isdir(shared):
        _touch_artifact(shared)  # keep-alive: reads don't update mtime

    def _finished(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_COMPLETE")) and (
            VersionedTable.exists(os.path.join(d, "emb_int8_vt"))
        )

    if not _finished(shared):
        # build privately, then publish atomically (rename fails if the
        # shared dir appeared meanwhile — the loser reuses the winner's)
        priv = os.path.join(
            _QUANT_ROOT,
            f"{tag}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}",
        )
        os.makedirs(priv, exist_ok=True)
        raw = load_table(spark, sf_dir, "embeddings")
        quantize_embeddings_table(
            spark, raw, os.path.join(priv, "emb_int8_vt")
        )
        with open(os.path.join(priv, "_COMPLETE"), "w") as f:
            f.write(state)
        try:
            os.rename(priv, shared)
        except OSError:
            if not _finished(shared):
                # a PARTIAL dir (marker-less: a process killed mid-CTAS)
                # squats the shared path — left alone it would disable
                # reuse forever and strand one private build per process
                # (r14 review #5): move the squatter aside atomically and
                # retry the publish once; the trash name keeps us from
                # ever deleting a directory another process might still
                # be scanning
                try:
                    os.rename(
                        shared,
                        f"{shared}.stale-{os.getpid()}-{uuid.uuid4().hex[:8]}",
                    )
                    os.rename(priv, shared)
                except OSError:
                    pass
            if _finished(shared):
                if os.path.exists(priv):  # lost a race: reuse the winner's
                    shutil.rmtree(priv, ignore_errors=True)
            else:  # still squatted: keep our private copy (correct, un-shared)
                loc = os.path.join(priv, "emb_int8_vt")
    _QUANT_BUILT[sf_dir] = loc
    return VersionedTable(spark, loc)


@register(
    "ann_int8_range_search_stored",
    oracle=_RANGE_ORACLE,
    doc=f"Range search answered from the WRITE-TIME artifact (r13, "
    "VERDICT r12 #4): the registered query CTASes the "
    "quantize_embeddings_table form once per corpus (int8 column + "
    "corpus scale as a table property) and the reader scans ONLY "
    "(vec_id, label, q) — the int8 column at 1/4 the float bytes — with "
    "the query row's floats point-read and re-quantized under the "
    "table-property scale. Same integer cross-multiplied "
    f"{RANGE_NUM}/{RANGE_DEN} threshold as the inline query, so it "
    "shares the inline oracle verbatim: the driver check proves the "
    "stored artifact answers the retrieval question identically to the "
    "from-scratch scan.",
)
def ann_int8_range_search_stored_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_int8_range_search_stored(spark, _quantized_table(spark, sf_dir))


def _range_index_frames(
    spark: SparkSession, sf_dir: str, n_centroids: int = N_CENTROIDS
):
    """The query-independent pieces of the bucketed range index —
    (q8, cent, assigned) — shared by the per-query pruned search and the
    r13 WRITE-TIME builder (build_range_index), so the two can never
    disagree on quantization or assignment."""
    e = _vecs(spark, sf_dir)
    sc = e.agg(
        F.try_divide(
            F.lit(Q_SCALE_TOP),
            F.max(F.array_max(F.transform("v", lambda x: F.abs(x)))),
        ).alias("s")
    )

    _q8, _idot = _int8_quantize, _int8_dot

    from pyspark.sql.window import Window

    # two-step projections: v8 (quantize HOF) lands first, vself (self
    # dot) reads it as a plain column — each O(d) expression evaluated
    # once per VECTOR, before the xN_CENTROIDS crossJoin multiplies rows
    q8 = (
        e.crossJoin(F.broadcast(sc))
        .select("vec_id", "label", _q8(F.col("v")).alias("v8"))
        .select(
            "vec_id",
            "label",
            "v8",
            _idot(F.col("v8"), F.col("v8")).alias("vself"),
        )
    )
    cent = (
        q8.orderBy("vec_id")
        .limit(n_centroids)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("v8").alias("c8"),
            F.col("vself").alias("cself"),
        )
    )
    # index build (write-time at scale): assign each vector to its
    # max-integer-dot centroid, deterministic tie-break on cid.
    # dist2 = |v-c|^2 expands to vself - 2*dc + cself so every O(d) dot
    # is projected ONCE (HOF lambdas are excluded from codegen
    # subexpression elimination, SPARK-35410 — a zip_with difference
    # array referenced twice would run twice per (vector x centroid)
    # row on the hottest index-build path; r12 review)
    w = Window.partitionBy("vec_id").orderBy(F.col("dc").desc(), F.col("cid"))
    assigned = (
        q8.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "label", "v8", "cid", "cself", "vself",
            _idot(F.col("v8"), F.col("c8")).alias("dc"),
        )
        .select(
            "vec_id", "label", "v8", "cid", "dc",
            (
                F.col("vself") - F.lit(2) * F.col("dc") + F.col("cself")
            ).alias("dist2"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "label", "v8", F.col("cid").alias("bucket"), "dist2")
    )
    return q8, cent, assigned


def _pruned_range_parts(
    spark: SparkSession,
    sf_dir: str,
    num: int = RANGE_NUM,
    den: int = RANGE_DEN,
    n_centroids: int = N_CENTROIDS,
):
    """Internal pieces of ann_int8_range_search_pruned, exposed so the
    tests can count pruned buckets: (assigned, keep, qrow).

    The df-level form pays the centroid-assignment shuffle per query,
    which at local scales costs more than the brute scan it saves; the
    write-time index (bucket id as partition key) is build_range_index.
    The measurement, which also timed an eagerly checkpointed assignment,
    is in PERFORMANCE.md; its script, tests/exp_pruned_range_scale.py,
    is in git history (commit a62cc58)."""
    q8, cent, assigned = _range_index_frames(spark, sf_dir, n_centroids)
    stats = assigned.groupBy("bucket").agg(F.max("dist2").alias("r2"))
    qrow = q8.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("qid"),
        F.col("v8").alias("qq"),
        F.col("vself").alias("qself"),  # already projected per vector
    )
    # per-bucket ball bound, evaluated on the tiny (buckets x 1) frame
    lhs = F.lit(num) * F.col("qself") - F.lit(den) * _int8_dot(
        F.col("c8"), F.col("qq")
    )
    keep = (
        stats.join(cent, stats.bucket == cent.cid)
        .crossJoin(F.broadcast(qrow))
        .filter(
            ~((lhs > 0) & (lhs * lhs > F.lit(den * den) * F.col("r2") * F.col("qself")))
        )
        .select("bucket")
    )
    return assigned, keep, qrow


def ann_int8_range_search_pruned(
    spark: SparkSession,
    sf_dir: str,
    num: int = RANGE_NUM,
    den: int = RANGE_DEN,
    n_centroids: int = N_CENTROIDS,
) -> DataFrame:
    """EXACTLY-pruned bucketed range search — the scale path a brute
    range scan lacks: vectors are bucketed by nearest centroid (a
    write-time partitioning at 100 TB, like ann_ivf_topk's assignment),
    and a whole bucket is skipped when the ball bound proves NO member
    can reach the threshold:

        v.q  <=  c.q + |v - c| * |q|          (Cauchy-Schwarz on (v-c).q)

    so bucket b is prunable iff num*qself - den*(c.q) > 0 AND
    (num*qself - den*(c.q))^2 > den^2 * r2_b * qself, where r2_b is the
    bucket's max |v - c|^2 — ALL INTEGER comparisons over the quantized
    vectors, so the pruning decision is provably conservative: no float
    rounding can ever drop a true match (the squares stay inside bigint
    for d <= ~8k at |x| <= 127).  Results are therefore IDENTICAL to
    ann_int8_range_search by construction (pytest-pinned).  Pruning
    POWER (not correctness) is data-dependent: ~zero on the isotropic
    synthetic corpus (measured — bucket radii dwarf the threshold
    geometry), real on clustered corpora (tests/test_ann_range.py
    crafts one and asserts buckets actually drop).  At 100 TB the bucket
    id is the partition key, so a pruned bucket is a pruned partition —
    the scan reads only surviving buckets' int8 columns."""
    assigned, keep, qrow = _pruned_range_parts(spark, sf_dir, num, den, n_centroids)

    qdot = _int8_dot(F.col("v8"), F.col("qq"))
    return (
        assigned.join(F.broadcast(keep), "bucket", "left_semi")
        .crossJoin(F.broadcast(qrow))
        .filter(
            (F.col("vec_id") != F.col("qid"))
            & (qdot * den >= F.col("qself") * num)
        )
        .select("vec_id", "label", qdot.alias("qdot"), "qself")
        .orderBy(F.col("qdot").desc(), F.col("vec_id"))
    )


# --- the WRITE-TIME bucketed range index (r13, VERDICT r12 #4) --------------
#
# The r12 pruning experiment recorded honestly that the per-query
# df-level pruned path wins no local wall time (31/32 buckets pruned,
# 96.9% of rows never scanned, but in-memory scans are too cheap to
# beat the assignment jobs it adds) and that the REAL win is I/O-bound:
# bucket id as a PARTITION KEY laid down at write time, so a pruned
# bucket is a pruned file set the scan never opens.  These two
# functions make that claim executable: build_range_index writes the
# assignment as a bucket-partitioned parquet layout plus the tiny
# centroid/radius side table, and ann_int8_range_search_indexed answers
# the range query with a STATIC partition filter — the FileSourceScan's
# PartitionFilters prune whole bucket directories before a single row
# is read (tests/test_ann_range.py asserts the actually-read file set
# via input_file_name()).


def build_range_index(
    spark: SparkSession,
    sf_dir: str,
    location: str,
    n_centroids: int = N_CENTROIDS,
) -> None:
    """Write the bucketed range index for a corpus: ``location/vectors``
    holds (vec_id, label, v8) PARTITIONED BY bucket (nearest-centroid
    assignment — the one corpus-scale job, run once at write time), and
    ``location/centroids`` the n_centroids-row (cid, c8, cself, r2)
    model with each bucket's max |v-c|^2 radius.  Shares
    _range_index_frames with the per-query pruned path, so quantization
    and assignment cannot drift between the two."""
    _q8, cent, assigned = _range_index_frames(spark, sf_dir, n_centroids)
    # materialize once: the assignment (the one corpus-scale job) feeds
    # TWO write actions — without this the quantize+assign lineage would
    # re-execute for each (review r13; at 100 TB this is a staging table)
    assigned = assigned.localCheckpoint(eager=True)
    stats = assigned.groupBy("bucket").agg(F.max("dist2").alias("r2"))
    (
        cent.join(stats, cent.cid == stats.bucket)
        .select("cid", "c8", "cself", "r2")
        .coalesce(1)
        .write.parquet(f"{location}/centroids")
    )
    (
        assigned.select("vec_id", "label", "v8", "bucket")
        .write.partitionBy("bucket")
        .parquet(f"{location}/vectors")
    )


def ann_int8_range_search_indexed(
    spark: SparkSession,
    location: str,
    num: int = RANGE_NUM,
    den: int = RANGE_DEN,
) -> DataFrame:
    """Range search over a build_range_index layout — results identical
    to the brute scan by construction (same integer arithmetic, and the
    ball bound is conservative in overflow-checked integers, so skipping
    a bucket can never drop a true match; pytest-pinned).

    The surviving-bucket ids are collected to the driver and pushed as a
    LITERAL isin partition filter: the list is bounded by n_centroids (a
    model constant, never corpus-scaled — the same contract as the
    kmeans closures, NOT the shortlist-id hazard ISIN_POINT_LIST_MAX
    guards), and a literal filter is what Catalyst prunes partition
    directories with STATICALLY — the scan's PartitionFilters drop every
    pruned bucket's files before any row is read."""
    cent = spark.read.parquet(f"{location}/centroids")
    vec = spark.read.parquet(f"{location}/vectors")
    # min-vec_id query row, point-read from the index (vec_id column
    # only; an external query vector would skip this scan entirely)
    (qid,) = vec.agg(F.min("vec_id")).first()
    qrow = (
        vec.filter(F.col("vec_id") == qid)
        .select(F.col("v8").alias("qq"))
        .select("qq", _int8_dot(F.col("qq"), F.col("qq")).alias("qself"))
    )
    lhs = F.lit(num) * F.col("qself") - F.lit(den) * _int8_dot(
        F.col("c8"), F.col("qq")
    )
    kept = [
        r.cid
        for r in (
            cent.crossJoin(F.broadcast(qrow))
            .filter(
                ~(
                    (lhs > 0)
                    & (lhs * lhs > F.lit(den * den) * F.col("r2") * F.col("qself"))
                )
            )
            .select("cid")
            .collect()  # <= n_centroids rows: constant-bounded model
        )
    ]
    qdot = _int8_dot(F.col("v8"), F.col("qq"))
    return (
        vec.filter(F.col("bucket").isin(kept))  # static partition pruning
        .crossJoin(F.broadcast(qrow))
        .filter((F.col("vec_id") != qid) & (qdot * den >= F.col("qself") * num))
        .select("vec_id", "label", qdot.alias("qdot"), "qself")
        .orderBy(F.col("qdot").desc(), F.col("vec_id"))
    )
