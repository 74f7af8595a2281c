"""Job-count gates, pinned like plan shape (tests/test_plans.py): each
connected_components consumer, forced once in its own job group, must stay
within a ceiling of Spark jobs read from ``statusTracker()``.  Job counts
follow from the plan and the driver's actions, not from the host's speed,
so a regression fails here instead of hiding in wall-clock noise.  The
table layer's reads and writes are pinned the same way at the end.  A
failed ceiling lists each counted job's name and stage count.

The ceilings are the counts measured with CC's driver-local finish and
source reads planned from the layout cache's recorded schemas (the same
at sf0.001, sf0.01 and sf0.1, three runs each); the star-contraction
rounds cost 47 / 32 / 32 jobs, and schema inference on every source load
one job more each.  The local finish itself is four jobs: the edge
checkpoint's shuffle and result stages, the bounded collect, and the
caller's own force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from thesis_iceberg_spark.http_api import Api
from thesis_iceberg_spark.queries import REGISTRY, queries
from thesis_iceberg_spark.queries.dedup import connected_components
from thesis_iceberg_spark.sources.registry import load_table, register_tables
from thesis_iceberg_spark.tablefmt import VersionedTable
from thesis_iceberg_spark.tablefmt.catalog import Catalog

queries()

JOB_CEILINGS = {
    "dedup_semdedup_centroid_far": 18,
    "dedup_embedding_cluster_canonical": 8,
    "dedup_cluster_canonical": 7,
}


def _job_ids(spark, group, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` runs, in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def _jobs(spark, group, fn) -> int:
    """Spark jobs ``fn()`` runs, counted in its own job group."""
    return len(_job_ids(spark, group, fn))


def _describe_jobs(spark, ids) -> str:
    """One line per job: its name in ``statusStore()``, its stage count and
    how many of those stages were skipped (their output was reused)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    lines = []
    for j in ids:
        job = store.job(j)
        lines.append(
            f"  job {j}: {job.name()} [{job.status()}], {job.stageIds().size()} stages"
            f" ({job.numSkippedStages()} skipped)"
        )
    return "\n".join(lines)


def _force_job_ids(spark, group, build) -> list[int]:
    return _job_ids(
        spark, group, lambda: build().write.format("noop").mode("overwrite").save()
    )


@pytest.fixture(scope="module")
def warm_layouts(spark, sf_dir):
    """Fill the source-layout cache before any count.  A table whose cache
    marker is missing is re-laid out on its first load (a schema-inference
    job and a two-job count), which a count would charge to whichever query
    loads it first.  Another checkout with a different layout rule, run on the
    same test data, deletes this checkout's markers."""
    register_tables(spark, sf_dir)


@pytest.mark.parametrize("name", sorted(JOB_CEILINGS))
def test_cc_consumer_job_ceiling(spark, sf_dir, warm_layouts, name):
    ids = _force_job_ids(
        spark, f"job_budget_{name}", lambda: REGISTRY[name].fn(spark, sf_dir)
    )
    assert len(ids) <= JOB_CEILINGS[name], (
        f"{name}: {len(ids)} Spark jobs\n{_describe_jobs(spark, ids)}"
    )


def test_local_cc_leaves_no_persisted_rdd(spark):
    """The driver-local finish frees its edge checkpoint before returning:
    no persisted RDD outlives the call."""

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a BIGINT, b BIGINT")
    before = persisted()
    jobs = len(
        _force_job_ids(spark, "job_budget_local_cc", lambda: connected_components(pairs))
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


@pytest.mark.parametrize("layout", ["one_entry_of_40_files", "five_entries_of_8_files"])
def test_read_of_many_files_runs_no_job(spark, tmp_path, layout):
    """read() passes every data file the manifest lists as its own path;
    building it must not list them in a Spark job (Spark does above
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths)."""

    def part(i: int, n: int):
        return spark.range(1000 * i, 1000 * (i + 1)).repartition(n)

    if layout == "one_entry_of_40_files":
        vt = VersionedTable.create(spark, str(tmp_path / "t"), df=part(0, 40))
    else:
        vt = VersionedTable.create(spark, str(tmp_path / "t"), df=part(0, 8))
        for i in range(1, 5):
            vt.append(part(i, 8))
    assert sum(len(e["files"]) for e in vt._current_manifest()) == 40
    ids = _job_ids(
        spark, f"job_budget_read_{layout}", lambda: VersionedTable(spark, vt.location).read()
    )
    assert not ids, f"read() ran {len(ids)} Spark jobs\n{_describe_jobs(spark, ids)}"
