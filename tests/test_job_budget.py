"""Job-count gates, pinned like plan shape (tests/test_plans.py): each
connected_components consumer, forced once in its own job group, must stay
within a ceiling of Spark jobs read from ``statusTracker()``.  Job counts
follow from the plan and the driver's actions, not from the host's speed,
so a regression fails here instead of hiding in wall-clock noise.  The
table layer's reads and writes are pinned the same way at the end.

The ceilings are the counts measured with CC's driver-local finish (the
same at sf0.001, sf0.01 and sf0.1); the star-contraction rounds they
replaced cost 47 / 32 / 32 jobs.  The local finish itself is four jobs:
the edge checkpoint's shuffle and result stages, the bounded collect,
and the caller's own force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from thesis_iceberg_spark.http_api import Api
from thesis_iceberg_spark.queries import REGISTRY, queries
from thesis_iceberg_spark.queries.dedup import connected_components
from thesis_iceberg_spark.sources.registry import load_table
from thesis_iceberg_spark.tablefmt.catalog import Catalog

queries()

JOB_CEILINGS = {
    "dedup_semdedup_centroid_far": 20,
    "dedup_embedding_cluster_canonical": 9,
    "dedup_cluster_canonical": 8,
}


def _jobs(spark, group, fn) -> int:
    """Spark jobs ``fn()`` runs, counted in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _jobs_to_force(spark, group, build) -> int:
    return _jobs(
        spark, group, lambda: build().write.format("noop").mode("overwrite").save()
    )


@pytest.mark.parametrize("name", sorted(JOB_CEILINGS))
def test_cc_consumer_job_ceiling(spark, sf_dir, name):
    jobs = _jobs_to_force(
        spark, f"job_budget_{name}", lambda: REGISTRY[name].fn(spark, sf_dir)
    )
    assert jobs <= JOB_CEILINGS[name], f"{name}: {jobs} Spark jobs"


def test_local_cc_leaves_no_persisted_rdd(spark):
    """The driver-local finish frees its edge checkpoint before returning:
    no persisted RDD outlives the call."""

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a BIGINT, b BIGINT")
    before = persisted()
    jobs = _jobs_to_force(
        spark, "job_budget_local_cc", lambda: connected_components(pairs)
    )
    assert persisted() - before == set()
    assert jobs <= 4, f"local connected_components ran {jobs} Spark jobs"


# --- the table layer ---------------------------------------------------------
#
# Reads are planned from the metadata (recorded schemas, no footer
# inference), so building a read runs no job and serving one runs only the
# query: a broadcast of the position deletes plus the result.  An
# equality-delete group that applies adds one broadcast per scan, and a MoR
# update scans its matched rows twice (delete file, then updated rows).
# Metadata routes run no job.  With one footer-inference job per data entry
# and delete file, and a Spark round trip per metadata route, the same
# rounds ran update 3/8, delete 4/7, read() 4/5, scan and column 6/9, time
# travel 2/2, metadata 1/1 and compact 6/9 jobs.

_MOR = {f"write.{op}.mode": "merge-on-read" for op in ("delete", "update", "merge")}
_SCAN = "/orders?where=o_orderkey%20%3E%3D%2010%20AND%20o_orderkey%20%3C%20400"
_METADATA_ROUTES = ("history", "snapshots", "refs")
# kind -> ceilings at two shapes: two or more data entries with position
# deletes, then the same with an applicable equality delete
READ_CEILINGS = {
    "read()": (0, 0),
    "scan": (2, 3),
    "column": (2, 3),
    "time_travel": (1, 1),
    **{route: (0, 0) for route in _METADATA_ROUTES},
}
WRITE_CEILINGS = {"update": (2, 4), "delete": (2, 3), "compact": (2, 3)}


@pytest.fixture(scope="module")
def orders_table(spark, sf_dir, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    src = load_table(spark, sf_dir, "orders").repartitionByRange(4, "o_orderkey")
    cat.create_table("orders", df=src, properties=_MOR)
    return cat, Api(cat)


def test_table_layer_job_ceilings(spark, orders_table):
    """The table_service round (append, MoR update, MoR delete, reads,
    compaction), then the same round with an equality delete committed
    before the update."""
    cat, api = orders_table
    got: dict[str, tuple[int, ...]] = {}

    def count(kind: str, shape: int, fn) -> None:
        n = _jobs(spark, f"job_budget_t{shape}_{kind}", fn)
        got[kind] = got.get(kind, ()) + (n,)

    def get(path: str) -> None:
        status, body = api.handle("GET", path)
        assert status == 200 and body, (path, status, body)

    for shape in (0, 1):
        vt = cat.table("orders")
        vt.append(
            vt.read()
            .filter("o_orderkey < 50")
            .withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000 * (shape + 1))
        )
        if shape == 1:
            keys = spark.createDataFrame([(7,), (9,)], "o_orderkey BIGINT")
            cat.table("orders").delete_by_key(keys)
        lo = 100 + 200 * shape
        count("update", shape, lambda: cat.table("orders").update(
            {"o_orderstatus": "'U'"}, f"o_orderkey >= {lo} AND o_orderkey < {lo + 30}"
        ))
        count("delete", shape, lambda: cat.table("orders").delete(
            f"o_orderkey >= {lo + 50} AND o_orderkey < {lo + 80}"
        ))
        vt = cat.table("orders")
        assert len(vt._current_manifest()) >= 2
        assert vt._current_delete_manifest(), "the reads must meet delete files"
        reads = {
            "read()": lambda: cat.table("orders").read(),
            "scan": lambda: get(_SCAN),
            "column": lambda: get("/orders/column/o_totalprice?limit=100"),
            "time_travel": lambda: get("/orders?version=1&where=o_custkey%20%3C%2050"),
            **{r: (lambda r=r: get(f"/orders/{r}")) for r in _METADATA_ROUTES},
        }
        for kind, fn in reads.items():
            count(kind, shape, fn)
        count("compact", shape, lambda: cat.table("orders").compact())
    ceilings = {**READ_CEILINGS, **WRITE_CEILINGS}
    over = {k: (got[k], c) for k, c in ceilings.items() if any(map(int.__gt__, got[k], c))}
    assert not over, f"(jobs per shape, ceilings): {over}"
