"""The session's generated-code cache holds a warm pass: running the four
``llm_pipeline`` queries a second time compiles no class.  With Spark's
default of 100 entries, the second pass recompiled most of the 126 classes
the first one compiled."""

from __future__ import annotations

from thesis_iceberg_spark.queries import REGISTRY, queries

queries()

LLM = ["dedup_semdedup_centroid_far", "ann_cosine_topk", "text_countmin_topk", "text_bpe_encode"]


def test_warm_llm_pass_compiles_no_class(spark, sf_dir):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles_per_pass() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in LLM:
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    compiles_per_pass()
    assert compiles_per_pass() == 0
