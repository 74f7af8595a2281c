"""SparkSession bootstrap (SURVEY.md §7 step 1; ref: api.py:19-26).

The reference builds one module-level SparkSession with the Iceberg runtime
and a Hadoop catalog.  This engine is catalog-agnostic: it runs on plain
parquet + the built-in ``spark_catalog``, with the versioned-table layer
(``thesis_iceberg_spark.tablefmt``) providing snapshot/time-travel/schema-
history semantics natively (no external runtime jars are available in this
environment).

Scale posture: these configs are chosen for a real multi-executor cluster
reading ~100 TB, then sized down via env vars for local[N] testing:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing).
* Arrow for every Python<->JVM columnar hop.
* ``shuffle.partitions`` defaults to 2x cores locally; on a cluster you
  would set it to ~2-3x total executor cores (or rely on AQE coalescing
  with a high initial value).
* zstd parquet writes (matches the reference warehouse's codec —
  ref: spark-warehouse/.../v15.metadata.json write.parquet.compression-codec).
* UTC session timezone so timestamp semantics are stable across
  driver/executor machines (and match the DuckDB oracle).
* Per-query fixed costs are paid once per process: the generated-code
  cache holds the largest working set one session runs, and Python
  workers fork from ``worker_daemon``, which stops the per-task re-read
  of every zip archive on the import path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package: workers import it from there, not
# from whatever the cwd happens to be
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "thesis-iceberg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Mirrors the reference's single-session bootstrap (api.py:19-26) but with
    an explicitly scale-oriented config block.  Safe to call repeatedly —
    Spark returns the existing session if one is already running.
    """
    cores = _default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(2 * cores, 8))
    )

    conf: dict[str, str] = {
        # --- correctness / determinism ---
        "spark.sql.session.timeZone": "UTC",
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no ns
        # timestamp type, so read as long and convert in the loader.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # --- adaptive execution: the 100 TB safety net ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- python <-> jvm boundary ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.python.daemon.module": "thesis_iceberg_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT,
        # --- shuffle sizing ---
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # 128 MB split targets keep scan partitions executor-memory friendly
        "spark.sql.files.maxPartitionBytes": "134217728",
        # versioned-table reads pass every data file the manifest lists as
        # its own path; above this many paths Spark lists them in a Spark
        # job (default 32), not on the driver.  Building read() of a 40-file
        # table took 443 ms with that job and 58 ms without (local[2])
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
        # --- generated code ---
        # Spark keeps 100 compiled classes by default, and a warm pass
        # recompiled whatever did not fit.  A first pass compiles 126
        # distinct classes for the four llm_pipeline queries, 589 for the 31
        # bench.py headliners and 1,686 for all 138 registered queries
        # (sf0.01); this holds the largest, rounded up to a power of two.
        "spark.sql.codegen.cache.maxEntries": "2048",
        # --- storage ---
        "spark.sql.parquet.compression.codec": "zstd",
        # Spark's legacy default INT96 timestamps carry NO parquet min/max
        # statistics, silently disabling footer-stats range pruning on
        # every timestamp column (VersionedTable.plan_files, sorted-table
        # skipping); TIMESTAMP_MICROS is the modern annotated INT64 form
        # with full stats, readable by every engine here.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        # --- misc ---
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # managed tables (bucketed-join layouts) live outside the repo
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/tisw_spark_warehouse"
        ),
    }
    if extra_conf:
        conf.update(extra_conf)

    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
