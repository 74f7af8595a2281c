"""Testdata table registry (SURVEY.md §2A S1/S2/S6; ref: api.py:63-73).

The reference serves a fixed set of catalog tables; our equivalent is the
driver's TPC-H-ish parquet tables plus ``documents``/``embeddings``
(TESTDATA.md).  ``register_tables`` registers each as a temp view so both
the DataFrame API and ``spark.sql`` paths work, exactly like the
reference's notebook `createOrReplaceTempView` flow
(ref: Pyspark_Notebook.ipynb#cell-68 (json:2232)).

Scale note: views over parquet keep Catalyst's scan-level optimizations
(column pruning, predicate pushdown, partition-size splitting) fully
available; nothing is materialized driver-side.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# --- scan-layout cache -------------------------------------------------
# The driver's testdata files each contain ONE parquet row group, so a scan
# can never parallelize beyond one task per file — at any SF, on any
# cluster.  Controlling data layout at write time is the engine's job (it
# is exactly what Iceberg table maintenance / bin-packing does at 100 TB),
# so tables above a size threshold are re-laid-out ONCE per sf_dir into
# multiple files under /tmp, values byte-identical, and scans read the
# multi-file copy.  Each layout is keyed by its source stat and layout
# rule; checkouts running different rules on the same data keep their
# own layouts side by side (see _gc_stale_layouts).  The marker records
# the schema the layout was read with, so a warm load plans from it and
# runs no schema-inference job.

_CACHE_BASE = "/tmp/tisw_layout_cache"
_ROWS_PER_FILE = 20_000
_MIN_BYTES_TO_RELAYOUT = 256 << 10  # fat-row tables: split by bytes
_BYTES_PER_FILE = 64 << 10
_LAYOUT_RULE = 3  # bump to invalidate markers written under an older rule
_MIN_ROWS_TO_RELAYOUT = 50_000
# age past which another rule's layout, or a namespace whose sources are
# all gone, is collected (the int8 store's cutoff in queries/similarity.py)
_OTHER_RULE_MAX_AGE_S = 86400


def _src_bytes(src: str) -> int:
    """Data bytes of a parquet source: a directory-shaped table's inode
    size (~4 KB) would silently defeat the bytes rule, so sum its files."""
    if os.path.isdir(src):
        return sum(
            e.stat().st_size for e in os.scandir(src) if e.is_file()
        )
    return os.stat(src).st_size


def _layout_key(src: str) -> str:
    """Cache-dir suffix unique per (source content, layout rule): rule
    bumps and in-place testdata regeneration get a FRESH directory, so the
    rename below can only collide with a concurrent writer of the SAME
    content — for whom either result is correct.  (Renaming onto an
    existing non-empty dir raises ENOTEMPTY, so a reused path could never
    actually be replaced — the old layout would win forever.)"""
    stat = os.stat(src)
    return f"{stat.st_size}-{int(stat.st_mtime)}-{_src_bytes(src)}-r{_LAYOUT_RULE}"


def _relayout(spark: SparkSession, src: str, dst: str, marker_path: str) -> None:
    df = spark.read.parquet(src)
    n = df.count()
    size = _src_bytes(src)
    if n >= _MIN_ROWS_TO_RELAYOUT:
        files = min(64, max(1, n // _ROWS_PER_FILE))
    elif size >= _MIN_BYTES_TO_RELAYOUT:
        # BYTES trigger (rule 2): a few-thousand-row table of fat text/
        # vector rows (documents, embeddings) is one file under the row
        # rule, so every shingle/gram/signature EXPLODE inherits scan
        # parallelism 1-2. Iceberg bin-packs by bytes for the same reason.
        files = min(32, max(2, size // _BYTES_PER_FILE))
    else:
        files = 0
    if files == 0:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        marker = {"src": src, "passthrough": True}
    else:
        tmp = f"{dst}.tmp-{uuid.uuid4().hex[:8]}"
        df.repartition(files).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, dst)
        except OSError:  # concurrent writer of the same content won
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
        marker = {"src": src, "passthrough": False, "files": files, "dst": dst}
    stat = os.stat(src)
    marker.update(
        {
            "size": stat.st_size,
            "mtime": stat.st_mtime,
            "rule": _LAYOUT_RULE,
            # the copy is written from df, so one schema reads both paths
            "schema": df.schema.jsonValue(),
        }
    )
    with open(marker_path, "w") as f:
        json.dump(marker, f)


def _gc_stale_layouts(parent: str, name: str, keep: set[str]) -> None:
    """Content+rule-keyed cache dirs strand their predecessors whenever
    the testdata regenerates or the layout rule bumps (ADVICE r4:
    unbounded /tmp growth).  A sibling ``{name}-*`` entry of THIS rule
    with a different key is unreachable — keys derive solely from the
    CURRENT source stat and rule — so it is deleted at once.  A
    ``.tmp-`` dir for the CURRENT key is a concurrent writer of the same
    content and is left alone; this rule's old-key tmp dirs are dead
    writers' debris.  An entry of ANOTHER rule may be the live layout of
    a checkout running that rule on the same data: deleting it at once
    made two such checkouts re-lay each other's tables out on every
    alternation, so it goes only once older than _OTHER_RULE_MAX_AGE_S."""
    import shutil
    import time

    current = next(iter(keep)).split(".marker")[0] if keep else ""
    try:
        entries = list(os.scandir(parent))
    except FileNotFoundError:
        return
    now = time.time()
    for e in entries:
        if not e.name.startswith(f"{name}-") or e.name in keep:
            continue
        if ".tmp-" in e.name and e.name.startswith(current):
            continue
        # key "<size>-<mtime>-<bytes>-r<rule>", then ".marker"/".tmp-<hex>"
        if e.name.split(".", 1)[0].rpartition("-r")[2] != str(_LAYOUT_RULE):
            try:
                age = now - e.stat(follow_symlinks=False).st_mtime
            except OSError:
                continue
            if age < _OTHER_RULE_MAX_AGE_S:
                continue
        if e.is_dir(follow_symlinks=False):
            shutil.rmtree(e.path, ignore_errors=True)
        else:
            try:
                os.unlink(e.path)
            except OSError:
                pass


def _gc_dead_namespaces(keep: str) -> None:
    """Every data root gets its own namespace (_cache_tag), and
    _gc_stale_layouts only looks inside the one being re-laid out, so a
    namespace whose data root was deleted (a test's tmp dir) was never
    collected.  One is dead when every marker's ``src`` is gone or it
    holds no marker; it goes once its directory has not changed for
    _OTHER_RULE_MAX_AGE_S, which spares a relayout still in flight."""
    import shutil
    import time

    try:
        namespaces = [e for e in os.scandir(_CACHE_BASE) if e.is_dir(follow_symlinks=False)]
    except FileNotFoundError:
        return
    now = time.time()
    for ns in namespaces:
        try:
            if ns.name == keep or now - ns.stat(follow_symlinks=False).st_mtime < _OTHER_RULE_MAX_AGE_S:
                continue
            markers = [e.path for e in os.scandir(ns.path) if e.name.endswith(".marker")]
        except OSError:
            continue
        if not any(_marker_src_exists(m) for m in markers):
            shutil.rmtree(ns.path, ignore_errors=True)


def _marker_src_exists(marker_path: str) -> bool:
    try:
        with open(marker_path) as f:
            return os.path.exists(json.load(f)["src"])
    except (OSError, ValueError, KeyError, TypeError):
        return False


def _cache_tag(sf_dir: str) -> str:
    """Cache namespace for one data root: basename + full-path hash.  The
    GC in _gc_stale_layouts assumes ONE source root per namespace, so two
    data roots that happen to share a basename (two checkouts, each with
    an sf0.1/) must not share a dir — one root's relayout would
    garbage-collect the other's live layout mid-scan and the pair would
    thrash the cache on every alternation."""
    norm = os.path.normpath(sf_dir)
    return f"{os.path.basename(norm)}-{hashlib.md5(norm.encode()).hexdigest()[:8]}"


def _cached_path(spark: SparkSession, sf_dir: str, name: str) -> tuple[str, StructType]:
    """The path to scan for one table and the schema to scan it with."""
    src = f"{sf_dir}/{name}.parquet"
    tag = _cache_tag(sf_dir)
    dst = os.path.join(_CACHE_BASE, tag, f"{name}-{_layout_key(src)}")
    marker_path = dst + ".marker"
    stat = os.stat(src)
    if os.path.exists(marker_path):
        with open(marker_path) as f:
            marker = json.load(f)
        if (
            marker["size"] == stat.st_size
            and marker["mtime"] == stat.st_mtime
            and marker.get("rule") == _LAYOUT_RULE
            and "schema" in marker
            and (marker["passthrough"] or os.path.isdir(dst))
        ):
            schema = StructType.fromJson(marker["schema"])
            return (src if marker["passthrough"] else dst), schema
    _relayout(spark, src, dst, marker_path)
    _gc_stale_layouts(
        os.path.dirname(dst),
        name,
        keep={os.path.basename(dst), os.path.basename(marker_path)},
    )
    _gc_dead_namespaces(keep=tag)
    return _cached_path(spark, sf_dir, name)


def source_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema recorded for one table's layout: its stored types, so
    ``events.ts`` is the nanosecond long, not load_table's timestamp."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _cached_path(spark, sf_dir, name)[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing physical-type quirks.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS) which Spark cannot
    map to a timestamp type; with ``spark.sql.legacy.parquet.nanosAsLong``
    it arrives as a nanosecond LongType which we convert to microsecond
    TIMESTAMP_NTZ (matching DuckDB's naive-timestamp view of the same file).

    The conf is set here (it is runtime-settable) rather than only at
    session build time so the loader works under ANY SparkSession —
    including the driver's own, which never calls our session.py.

    The read uses the schema recorded when the table was laid out, so it
    runs no schema-inference job.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path, schema = _cached_path(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long")).cast("timestamp_ntz")
        )
    return df


def register_tables(
    spark: SparkSession, sf_dir: str | None = None, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; returns name -> DataFrame."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
