"""Round-11 measurement (VERDICT r10 #2): buy headroom on the registered
kmeans self-check's 0.7 recall gate.

The knife edge: at driver scale (sf0.1, k=128 via KMEANS_MIN_K) the
shipped p=3 measured recall 0.708 under MLlib's seed-sensitive fit — one
host/BLAS flip from a red round.  This script measures, on the REAL
driver corpora (sf0.01 and sf0.1 embeddings), recall vs the exact brute
pair list (cosine >= 0.45) and the candidate/n^2 ratio for a (k, p) grid
across MLlib seeds, so the shipped small-k rule can be re-chosen with
measured margin >= 0.05 on every seed while the measured candidate count
stays under the 0.05*n^2 subquadratic gate.

Run:  SPARK_GRAFT_DRIVER_MEM=16g PYTHONPATH=/root/repo \
      python tests/exp_kmeans_margin_sweep.py
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F

from thesis_iceberg_spark import get_spark
from thesis_iceberg_spark.operators.vector import dot
from thesis_iceberg_spark.queries.dedup import (
    _brute_cosine_pairs,
    _emb_norms,
    dedup_embedding_kmeans_candidates,
)
from thesis_iceberg_spark.sources.registry import load_table

GRID = [  # (k, p); None = shipped rule for that corpus
    (128, 3),  # shipped today at both driver SFs
    (128, 4),
    (192, 3),
    (192, 4),
    (256, 4),
    (256, 5),
]
SEEDS = [42, 0, 1, 2, 3]


def run(sf_dir: str) -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    raw = load_table(spark, sf_dir, "embeddings")
    n = raw.count()
    e = raw.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    brute = (
        _brute_cosine_pairs(spark, e)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=True)
    )
    n_brute = brute.count()
    nrm = _emb_norms(raw)
    va = nrm.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nm").alias("na")
    )
    vb = nrm.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nm").alias("nb")
    )
    print(f"== {sf_dir}: n={n} true_pairs={n_brute}", flush=True)
    for k, p in GRID:
        for seed in SEEDS:
            t0 = time.perf_counter()
            cand = dedup_embedding_kmeans_candidates(
                spark, raw, k=k, nprobe=p, seed=seed, n=n
            ).localCheckpoint(eager=True)
            n_cand = cand.count()
            verified = (
                cand.join(F.broadcast(va), "vec_a")
                .join(F.broadcast(vb), "vec_b")
                .filter(
                    F.try_divide(
                        dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
                    )
                    >= 0.45
                )
                .select("vec_a", "vec_b")
            )
            n_hit = verified.join(brute, ["vec_a", "vec_b"]).count()
            recall = n_hit / n_brute if n_brute else 1.0
            ratio = n_cand / (n * n)
            print(
                f"k={k:4d} p={p} seed={seed:2d} recall={recall:.4f} "
                f"cand={n_cand} ratio={ratio:.4f} "
                f"gate_ok={ratio <= 0.05} wall={time.perf_counter() - t0:.1f}s",
                flush=True,
            )


if __name__ == "__main__":
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    for d in dirs:
        run(d)
