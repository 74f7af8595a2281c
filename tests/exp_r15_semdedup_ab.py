"""Interleaved A/B: semdedup_keepers with the r15 staged members frame
(one corpus scan) vs the pre-r15 unstaged form (the final plan re-ran
the embeddings scan + label join once per consumer branch).  Rows are
asserted identical before timing.

Usage: PYTHONPATH=/root/repo python tests/exp_r15_semdedup_ab.py
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PASSES = 5


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import numpy as np

    from thesis_iceberg_spark import get_spark
    from thesis_iceberg_spark.queries import dedup as D
    from thesis_iceberg_spark.queries import queries

    queries()
    spark = get_spark(app_name="exp_r15_semdedup_ab")
    spark.sparkContext.setLogLevel("ERROR")

    # The OLD arm is a verbatim copy of the keeper tail with the members
    # staging removed (monkeypatching the checkpoint out of the
    # registered function would be more fragile than reproducing the
    # 30-line tail it guards).
    from pyspark.sql import functions as F

    from thesis_iceberg_spark.operators.vector import dot
    from thesis_iceberg_spark.queries.dedup import (
        _cluster_centroids,
        _emb_norms,
        connected_components,
        dedup_embedding_lsh_pairs,
    )
    from thesis_iceberg_spark.sources.registry import load_table

    def old_form():
        pairs = dedup_embedding_lsh_pairs(spark, sf_dir).select("vec_a", "vec_b")
        labels = connected_components(pairs.toDF("a", "b")).select(
            F.col("node").alias("vec_id"), F.col("label")
        )
        emb = _emb_norms(load_table(spark, sf_dir, "embeddings"))
        members = labels.join(emb, "vec_id")  # UNSTAGED: the pre-r15 shape
        mx = members.filter(F.col("v").isNotNull()).agg(F.max(F.size("v")).alias("d")).first()
        if mx is None or mx["d"] is None:
            return labels.select("vec_id", F.col("label").alias("canonical_vec_id"))
        dim = int(mx["d"])
        centroids = _cluster_centroids(members, dim)
        wl = members.groupBy("label").agg(F.max(F.size("v")).alias("w"))
        cn = (
            centroids.join(F.broadcast(wl), "label")
            .select("label", F.slice(F.col("c"), F.lit(1), F.col("w")).alias("c"))
            .select("label", "c", F.sqrt(dot(F.col("c"), F.col("c"))).alias("cn"))
        )
        cos = members.join(F.broadcast(cn), "label").select(
            "label",
            "vec_id",
            F.coalesce(
                F.try_divide(dot(F.col("v"), F.col("c")), F.col("nm") * F.col("cn")),
                F.lit(float("inf")),
            ).alias("cos_c"),
        )
        keep = (
            cos.groupBy("label")
            .agg(F.min(F.struct("cos_c", "vec_id")).alias("k"))
            .select("label", F.col("k.vec_id").alias("canonical_vec_id"))
        )
        return labels.join(keep, "label").select("vec_id", "canonical_vec_id")

    def canary() -> float:
        a = np.full((1024, 1024), 1.0003, dtype=np.float64)
        t0 = time.perf_counter()
        for _ in range(8):
            a = np.clip(a @ a, 0.5, 1.5)
        return time.perf_counter() - t0

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    new_rows = sorted(map(tuple, D.dedup_semdedup_centroid_far(spark, sf_dir).collect()))
    old_rows = sorted(map(tuple, old_form().collect()))
    assert new_rows == old_rows, "staged members diverged from the unstaged form"
    print(f"value check: {len(new_rows)} rows identical")

    new_t, old_t = [], []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        force(D.dedup_semdedup_centroid_far(spark, sf_dir))
        new_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        force(old_form())
        old_t.append(time.perf_counter() - t0)
    c = statistics.median(canary() for _ in range(3))
    nm, om = statistics.median(new_t), statistics.median(old_t)
    print(f"canary_numpy={c:.3f}s (quiet band ~0.10-0.15)")
    print(f"staged   arm: med {nm:.2f}s  all {[round(v, 2) for v in new_t]}")
    print(f"unstaged arm: med {om:.2f}s  all {[round(v, 2) for v in old_t]}")
    print(f"ratio staged/unstaged = {nm / om:.3f}")


if __name__ == "__main__":
    main()
