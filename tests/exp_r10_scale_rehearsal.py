"""Scale rehearsal for the round-10 operator families: count-min sketch
and token-budget selection at 1x / 10x / 100x the sf0.1 documents corpus.

Claims under test (same protocol as exp_text_scale_rehearsal):

  * countmin_sketch_df — ONE aggregation over 1024 fixed cell keys whose
    map-side combine is the partial-sketch merge: wall must scale ~with
    the token volume (the narrow explode+hash map), NEVER with distinct
    tokens.  The perturbed corpus grows distinct tokens ~9M at 100x
    while the sketch stays 1024 cells — the regime the sketch exists
    for.  countmin_topk_df adds the exact-count verification arm (a real
    token groupBy) for contrast: the gap between the two walls at 100x
    is the cost the sketch avoids.
  * token_budget_select_df — histogram threshold, no global sort: one
    narrow scoring pass + a 64-key histogram + a window over only the
    budget-crossing bin (iteratively refined past BOUNDARY_SORT_CAP).
    Wall must scale ~linearly; the crossing bin's TOTAL membership and
    the refinement depth are printed to show the sorted fraction stays
    ~1/64 as n grows (and that the default cap never refines here).

Timing: corpus pinned (repartition(32) + eager localCheckpoint) BEFORE
timing, MIN of 5 with a fixed-work canary per scale (shared-host CPU
steal showed 13x pass-to-pass variance — see exp_text_scale_rehearsal).

Run:  python tests/exp_r10_scale_rehearsal.py [max_replication]
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time


def main() -> None:
    max_repl = int(sys.argv[1]) if len(sys.argv) > 1 else 100

    import pyspark.sql.functions as F

    from thesis_iceberg_spark import get_spark
    from thesis_iceberg_spark.queries.pipeline_q import (
        NB_QBUCKETS,
        token_budget_select_df,
    )
    from thesis_iceberg_spark.queries.text import countmin_sketch_df, countmin_topk_df
    from thesis_iceberg_spark.sources.registry import load_table

    spark = get_spark(app_name="r10-scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    src = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")

    def build(repl: int) -> str:
        # identical corpus-growth recipe to exp_text_scale_rehearsal:
        # copies >= 3 rewrite every 3rd token to a doc-unique junk token
        # so DISTINCT tokens grow with the corpus (~9M at 100x) — for the
        # sketch this is the adversarial direction (exact counting state
        # explodes, the sketch must not care)
        copies = spark.range(repl).withColumnRenamed("id", "copy")
        toks = F.split(F.col("text"), r"\s+")
        perturbed = F.array_join(
            F.transform(
                toks,
                lambda t, i: F.when(
                    (F.col("copy") >= 3) & (i % 3 == 0),
                    F.concat(
                        F.lit("zq"),
                        F.col("doc_id").cast("string"),
                        F.lit("c"),
                        F.col("copy").cast("string"),
                        F.lit("x"),
                        i.cast("string"),
                    ),
                ).otherwise(t),
            ),
            " ",
        )
        corpus = src.crossJoin(copies).select(
            (F.col("doc_id") + F.col("copy") * F.lit(1_000_000)).alias("doc_id"),
            perturbed.alias("text"),
        )
        d = tempfile.mkdtemp(prefix=f"r10scale{repl}x_")
        corpus.repartition(32).write.parquet(f"{d}/documents.parquet")
        return d

    def timeit(fn, runs: int = 5) -> float:
        fn()  # warm (plan + JIT)
        return round(
            min(
                (lambda t0: (fn(), time.perf_counter() - t0)[1])(time.perf_counter())
                for _ in range(runs)
            ),
            3,
        )

    def canary() -> float:
        return timeit(
            lambda: spark.range(0, 100_000_000, 1, 32)
            .select(F.expr("bit_xor(xxhash64(id))"))
            .collect(),
            runs=5,
        )

    base: dict[str, float] = {}
    for repl in [r for r in (1, 10, 100) if r <= max_repl]:
        d = build(repl)
        docs = (
            load_table(spark, d, "documents")
            .repartition(32)
            .localCheckpoint(eager=True)
        )
        n = docs.count()
        t_sketch = timeit(lambda: countmin_sketch_df(docs).collect())
        t_topk = timeit(lambda: countmin_topk_df(docs).collect())
        t_budget = timeit(lambda: token_budget_select_df(docs).count())
        depths: list = []
        sel = token_budget_select_df(docs, refine_depth_out=depths)
        n_kept = sel.count()
        # the sorted fraction, measured CORRECTLY (review r10: the kept
        # docs of the lowest selected bucket are NOT the boundary bin's
        # membership — some of its docs are dropped by the budget, and
        # on an exact landing the lowest kept bucket is a FULL bin):
        # recompute the level-0 crossing bin from the scored projection
        # and count its TOTAL membership — that is what one window task
        # sorts before any refinement engages
        from pyspark.sql.window import Window

        from thesis_iceberg_spark.queries.text import quality_frame

        scored = (
            quality_frame(docs)
            .filter(F.col("quality_score").isNotNull())
            .select(
                "doc_id",
                "n_tokens",
                F.least(
                    F.floor(F.col("quality_score") * NB_QBUCKETS),
                    F.lit(NB_QBUCKETS - 1).cast("bigint"),
                ).alias("b"),
            )
        )
        budget = scored.agg(
            F.floor(F.sum("n_tokens") * 0.5).cast("bigint").alias("x")
        ).first()["x"]
        w_h = Window.orderBy(F.col("b").desc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        brow = (
            scored.groupBy("b")
            .agg(F.count("*").alias("n"), F.sum("n_tokens").alias("m"))
            .withColumn("ct", F.sum("m").over(w_h))
            .withColumn("cb", F.col("ct") - F.col("m"))
            .filter((F.col("cb") <= budget) & (F.col("ct") > budget))
        ).first()
        bbin = f"{brow['b']}:{brow['n']}docs" if brow is not None else "none"
        shutil.rmtree(d, ignore_errors=True)
        base.setdefault("sk", t_sketch)
        base.setdefault("tk", t_topk)
        base.setdefault("bu", t_budget)
        print(
            f"repl={repl:>3} docs={n:>7} "
            f"cm_sketch={t_sketch:.3f}s ({t_sketch / base['sk']:.1f}x) "
            f"cm_topk={t_topk:.3f}s ({t_topk / base['tk']:.1f}x) "
            f"budget_sel={t_budget:.3f}s ({t_budget / base['bu']:.1f}x) "
            f"kept={n_kept} boundary_bin={bbin} "
            f"refine_depth={depths[-1]} "
            f"canary={canary():.3f}s",
            flush=True,
        )


if __name__ == "__main__":
    main()
