"""Generative-rung experiment (VERDICT r6 ask #3): execute EVERY generative
LSH rung (arity 4..8 over top-16 + anchor (a-1)-tuples over top-13) on real
data — synthetic 64-dim embeddings with planted near-dup pairs at cosine
0.7/0.8/0.9 — and measure candidate volume and recall EMPIRICALLY.

Key question the analytic model couldn't answer: the ladder's admission
bounds assumed a uniform-bucket random-collision floor n^2/B with
B = C(128, arity).  But a pair collides iff the two top-16 signatures
share >= arity signed dims (the buckets enumerate ALL arity-subsets), so
the per-pair collision probability is the OVERLAP TAIL — n-invariant per
rung — and candidates grow as T(arity) * n^2, not n^2/B.  This script
measures T(arity) and recall per planted cosine.

Run:  python tests/exp_lsh_generative_rung.py [n_base] [n_planted] [arities]
Numbers land in PERFORMANCE.md + the ladder recalibration in dedup.py;
the regression gate is tests/test_lsh_ladder.py.
"""

from __future__ import annotations

import sys
import time

import numpy as np


def make_corpus(n_base: int, n_planted: int, dim: int = 64, seed: int = 20260814):
    """(ids, vectors, planted_pairs): iid normal base + exact-cosine dups
    planted at 0.7 / 0.8 / 0.9 round-robin."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dim))
    cosines = (0.7, 0.8, 0.9)
    dup_src = rng.choice(n_base, size=n_planted, replace=False)
    dups, planted = [], []
    for i, src in enumerate(dup_src):
        c = cosines[i % len(cosines)]
        u = base[src] / np.linalg.norm(base[src])
        w = rng.standard_normal(dim)
        w -= w.dot(u) * u
        w /= np.linalg.norm(w)
        dups.append((c * u + np.sqrt(1 - c * c) * w) * np.linalg.norm(base[src]))
        planted.append((int(src), n_base + i, c))
    vecs = np.vstack([base, np.array(dups)])
    ids = np.arange(len(vecs))
    return ids, vecs, planted


def run_rung(spark, dedup, emb, planted, n_total: int, arity: int) -> dict:
    real_tier = dedup._lsh_tier
    dedup._lsh_tier = lambda count: (arity, 16, 13)
    try:
        norms = dedup._emb_norms(emb)
        t0 = time.perf_counter()
        cand = dedup._embedding_lsh_candidates(spark, emb, norms)
        planted_set = sorted(
            {(a, b) if a < b else (b, a) for a, b, _ in planted}
        )
        pdf_pl = spark.createDataFrame(planted_set, "a BIGINT, b BIGINT")
        n_cand = cand.count()
        t_cand = time.perf_counter() - t0
        got = {
            (r.a, r.b)
            for r in cand.toDF("a", "b").join(pdf_pl, ["a", "b"]).collect()
        }
    finally:
        dedup._lsh_tier = real_tier
    by_cos: dict[float, tuple[int, int]] = {}
    for a, b, c in planted:
        key = (a, b) if a < b else (b, a)
        t, h = by_cos.get(c, (0, 0))
        by_cos[c] = (t + 1, h + (key in got))
    return {
        "arity": arity,
        "n": n_total,
        "candidates": n_cand,
        "ratio": n_cand / n_total**2,
        "recall": {c: h / t for c, (t, h) in sorted(by_cos.items())},
        "wall_sec": round(t_cand, 1),
    }


def main() -> None:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_planted = int(sys.argv[2]) if len(sys.argv) > 2 else 1_500
    arities = (
        [int(x) for x in sys.argv[3].split(",")] if len(sys.argv) > 3 else [4]
    )

    import pandas as pd

    from thesis_iceberg_spark import get_spark
    from thesis_iceberg_spark.queries import dedup

    spark = get_spark(app_name="lsh-rung-exp")
    spark.sparkContext.setLogLevel("ERROR")

    ids, vecs, planted = make_corpus(n_base, n_planted)
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})
    emb = spark.createDataFrame(pdf).repartition(32).cache()
    emb.count()
    n_total = len(ids)

    for arity in arities:
        r = run_rung(spark, dedup, emb, planted, n_total, arity)
        rec = "  ".join(f"r@{c}={v:.3f}" for c, v in r["recall"].items())
        print(
            f"arity={r['arity']} n={r['n']} cand={r['candidates']} "
            f"ratio={r['ratio']:.6f} {rec} wall={r['wall_sec']}s",
            flush=True,
        )




def make_corpus_df(spark, n_base: int, n_planted: int, dim: int = 64,
                   seed: int = 20260814, partitions: int = 64):
    """Distributed version of make_corpus for 1e6+ rows (VERDICT r8 ask #2):
    vectors are a pure deterministic function of (seed, vec_id) via
    numpy SeedSequence, generated inside mapInPandas — the corpus never
    exists driver-side.  ids < n_base are iid-normal base rows; id
    n_base+j is a near-dup of src(j) = j * (n_base // n_planted) planted
    at exact cosine (0.7, 0.8, 0.9)[j % 3], matching make_corpus's
    construction.  Returns (df, planted)."""
    import numpy as np

    stride = n_base // n_planted
    cosines = (0.7, 0.8, 0.9)

    def _base_vec(i: int) -> "np.ndarray":
        rng = np.random.default_rng(np.random.SeedSequence([seed, i]))
        return rng.standard_normal(dim)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                if i < n_base:
                    out.append(_base_vec(i))
                    continue
                j = i - n_base
                c = cosines[j % 3]
                b = _base_vec(j * stride)
                nb = np.linalg.norm(b)
                u = b / nb
                rng = np.random.default_rng(np.random.SeedSequence([seed, i, 1]))
                w = rng.standard_normal(dim)
                w -= w.dot(u) * u
                w /= np.linalg.norm(w)
                out.append((c * u + np.sqrt(1 - c * c) * w) * nb)
            yield pd.DataFrame({"vec_id": pdf["id"], "embedding": out})

    df = spark.range(n_base + n_planted, numPartitions=partitions).mapInPandas(
        gen, "vec_id bigint, embedding array<double>"
    )
    planted = [
        (j * stride, n_base + j, cosines[j % 3]) for j in range(n_planted)
    ]
    return df, planted


def kmeans_mode() -> None:
    """Measure the kmeans-bounded path on the planted corpus with a
    per-phase breakdown (fit / assign / candidates / recall):
    python tests/exp_lsh_generative_rung.py --kmeans [n_base] [n_planted] [nprobe]
    Corpora past 200k rows are generated distributed (make_corpus_df);
    the optional nprobe overrides _kmeans_nprobe to measure the
    recall-vs-candidates knob at fixed k."""
    n_base = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    n_planted = int(sys.argv[3]) if len(sys.argv) > 3 else 1_500
    nprobe_override = int(sys.argv[4]) if len(sys.argv) > 4 else None

    import pandas as pd

    from thesis_iceberg_spark import get_spark
    from thesis_iceberg_spark.operators.ann import clean_embeddings
    from thesis_iceberg_spark.queries import dedup

    big = n_base + n_planted > 200_000
    # 1e6-run tuning (measured, round 9): the assign kernel's per-batch
    # cosine matrix is rows x k doubles — at k ~ 15.8k the default 10k-row
    # Arrow batch is 1.3 GB per worker and 32 workers of default-threaded
    # OpenBLAS oversubscribe 32x32 threads (459 s assign); 2048-row
    # batches + 1 BLAS thread per worker assign in ~30 s.  192 shuffle
    # partitions keep the 8e8-row candidate distinct at ~4M rows/task.
    spark = get_spark(
        app_name="kmeans-pairs-exp",
        extra_conf=(
            {
                "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
                "spark.sql.shuffle.partitions": "192",
                "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
                "spark.executorEnv.OMP_NUM_THREADS": "1",
            }
            if big
            else None
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    if big:
        emb, planted = make_corpus_df(spark, n_base, n_planted)
        emb = emb.cache()
        n_total = emb.count()
    else:
        ids, vecs, planted = make_corpus(n_base, n_planted)
        pdf = pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})
        emb = spark.createDataFrame(pdf).repartition(32).cache()
        n_total = emb.count()
    t_gen = time.perf_counter() - t0

    # phase-by-phase: the same steps dedup_embedding_kmeans_candidates
    # composes, materialized separately so each wall is attributable
    clean, dim, n_clean = clean_embeddings(emb)
    k = min(dedup._kmeans_k(n_clean), n_clean)
    nprobe = nprobe_override or dedup._kmeans_nprobe(k)

    t0 = time.perf_counter()
    centers = dedup._kmeans_fit_centers(
        spark, clean, k=k, n=n_clean, seed=42, dim=dim
    )
    t_fit = time.perf_counter() - t0

    t0 = time.perf_counter()
    assigned = (
        dedup._emb_norms(emb)
        .select("vec_id", "v")
        .mapInPandas(
            dedup._kmeans_assign_kernel(centers, nprobe),
            "vec_id bigint, bucket bigint",
        )
        .localCheckpoint(eager=True)
    )
    t_assign = time.perf_counter() - t0

    # candidate count + per-grade recall in ONE streaming aggregation over
    # the distinct pair set — materializing 8e8 candidate rows
    # (localCheckpoint) is what OOM'd the first 1e6 attempt; a count +
    # broadcast-join + conditional-sum pass needs no storage at all
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    cand = dedup._bucket_candidates(assigned, "exp overflow")
    planted_rows = [
        ((a, b) if a < b else (b, a)) + (c,) for a, b, c in planted
    ]
    pl = spark.createDataFrame(planted_rows, "a BIGINT, b BIGINT, c DOUBLE")
    agg = (
        cand.toDF("a", "b")
        .join(F.broadcast(pl), ["a", "b"], "left")
        .agg(
            F.count("*").alias("n_cand"),
            *[
                F.sum(F.when(F.col("c") == c, 1).otherwise(0)).alias(f"h{i}")
                for i, c in enumerate((0.7, 0.8, 0.9))
            ],
        )
        .collect()[0]
    )
    t_cand = time.perf_counter() - t0
    n_cand = agg.n_cand
    totals = {c: sum(1 for _, _, pc in planted if pc == c) for c in (0.7, 0.8, 0.9)}
    rec = "  ".join(
        f"r@{c}={agg[f'h{i}'] / totals[c]:.3f}"
        for i, c in enumerate((0.7, 0.8, 0.9))
        if totals[c]
    )
    print(
        f"kmeans k={k} nprobe={nprobe} n={n_total} "
        f"cand={n_cand} ratio={n_cand / n_total**2:.6f} "
        f"per_doc={n_cand / n_total:.1f} {rec} "
        f"gen={t_gen:.1f}s fit={t_fit:.1f}s assign={t_assign:.1f}s "
        f"cand+recall={t_cand:.1f}s",
        flush=True,
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--kmeans":
        kmeans_mode()
    else:
        main()
