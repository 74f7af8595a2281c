"""Layout-cache GC (ADVICE r4): content+rule-keyed cache dirs must not
strand their predecessors under /tmp forever — a regeneration or rule
bump re-keys the dir, and the old key is unreachable garbage.  Another
rule's entries may be a second checkout's live layout, so they are
collected only once they are a day old, and so is a namespace whose
sources are all gone.  Each marker records the schema its layout is read
with, so a warm load runs no Spark job."""

from __future__ import annotations

import json
import os
import time

import pytest

_TWO_DAYS_AGO = time.time() - 2 * 86400


def test_stale_layout_keys_are_garbage_collected(spark, tmp_path, monkeypatch):
    from thesis_iceberg_spark.sources import registry as reg

    monkeypatch.setattr(reg, "_CACHE_BASE", str(tmp_path / "cache"))
    sf = str(tmp_path / "sfx")
    os.makedirs(sf)
    spark.range(10).toDF("doc_id").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )

    tag_dir = tmp_path / "cache" / reg._cache_tag(sf)
    tag_dir.mkdir(parents=True)
    # stale siblings from an older source stat / rule version
    stale_dir = tag_dir / "documents-999-111-222-r0"
    stale_dir.mkdir()
    (stale_dir / "part-0.parquet").write_text("x")
    stale_marker = tag_dir / "documents-999-111-222-r0.marker"
    stale_marker.write_text("{}")
    stale_tmp = tag_dir / "documents-999-111-222-r0.tmp-deadbeef"
    stale_tmp.mkdir()
    # another rule's entries go only once aged past the cutoff
    for p in (stale_dir, stale_marker, stale_tmp):
        os.utime(p, (_TWO_DAYS_AGO, _TWO_DAYS_AGO))
    # a concurrent writer's tmp for the CURRENT key must survive
    cur_key = reg._layout_key(f"{sf}/documents.parquet")
    live_tmp = tag_dir / f"documents-{cur_key}.tmp-cafe0123"
    live_tmp.mkdir()
    # another table's entries are out of scope
    other = tag_dir / "orders-999-111-222-r0.marker"
    other.write_text("{}")

    reg._cached_path(spark, sf, "documents")

    assert not stale_dir.exists()
    assert not stale_marker.exists()
    assert not stale_tmp.exists()
    assert live_tmp.exists()
    assert other.exists()
    # the current marker itself survives and keeps resolving
    assert (tag_dir / f"documents-{cur_key}.marker").exists()


def test_same_basename_roots_get_distinct_cache_namespaces(
    spark, tmp_path, monkeypatch
):
    """Two data roots sharing a basename (two checkouts, each with an
    sf0.5/) must not share a cache namespace: the GC assumes one source
    per (namespace, table), so a shared dir would let root B's relayout
    delete root A's LIVE layout (mid-scan breakage + cache thrash)."""
    from thesis_iceberg_spark.sources import registry as reg

    monkeypatch.setattr(reg, "_CACHE_BASE", str(tmp_path / "cache"))
    roots = []
    for root in ("rootA", "rootB"):
        sf = str(tmp_path / root / "sf0.5")
        os.makedirs(sf)
        spark.range(10).toDF("doc_id").coalesce(1).write.parquet(
            f"{sf}/documents.parquet"
        )
        roots.append(sf)
    a, b = roots
    assert reg._cache_tag(a) != reg._cache_tag(b)
    reg._cached_path(spark, a, "documents")
    marker_a = (
        tmp_path
        / "cache"
        / reg._cache_tag(a)
        / f"documents-{reg._layout_key(f'{a}/documents.parquet')}.marker"
    )
    assert marker_a.exists()
    # B's relayout + GC must not touch A's namespace
    reg._cached_path(spark, b, "documents")
    assert marker_a.exists()


def test_other_rule_layouts_are_collected_only_when_aged(
    spark, tmp_path, monkeypatch
):
    """A checkout running the next layout rule on the same data keeps its
    fresh markers; this rule's stale-stat siblings go at once."""
    from thesis_iceberg_spark.sources import registry as reg

    monkeypatch.setattr(reg, "_CACHE_BASE", str(tmp_path / "cache"))
    sf = str(tmp_path / "sfx")
    os.makedirs(sf)
    spark.range(10).toDF("doc_id").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    tag_dir = tmp_path / "cache" / reg._cache_tag(sf)
    tag_dir.mkdir(parents=True)
    cur_key = reg._layout_key(f"{sf}/documents.parquet")
    next_rule = f"r{reg._LAYOUT_RULE + 1}"
    fresh_other = tag_dir / f"documents-{cur_key.rpartition('-r')[0]}-{next_rule}.marker"
    fresh_other.write_text("{}")
    aged_other = tag_dir / f"documents-999-111-222-{next_rule}.marker"
    aged_other.write_text("{}")
    os.utime(aged_other, (_TWO_DAYS_AGO, _TWO_DAYS_AGO))
    same_rule_stale = tag_dir / f"documents-999-111-222-r{reg._LAYOUT_RULE}.marker"
    same_rule_stale.write_text("{}")

    reg._cached_path(spark, sf, "documents")

    assert fresh_other.exists()
    assert not aged_other.exists()
    assert not same_rule_stale.exists()
    assert (tag_dir / f"documents-{cur_key}.marker").exists()


def _jobs(spark, group, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write_source(spark, sf: str, name: str, rows: int) -> None:
    os.makedirs(sf, exist_ok=True)
    spark.range(rows).toDF("doc_id").coalesce(1).write.parquet(f"{sf}/{name}.parquet")


def test_warm_load_table_runs_no_job(spark, tmp_path, monkeypatch):
    """A warm load reads with the schema its marker recorded: no
    schema-inference job, for a passthrough source and a multi-file copy."""
    from thesis_iceberg_spark.sources import registry as reg

    monkeypatch.setattr(reg, "_CACHE_BASE", str(tmp_path / "cache"))
    sf = str(tmp_path / "sfx")
    _write_source(spark, sf, "documents", 10)
    _write_source(spark, sf, "orders", reg._MIN_ROWS_TO_RELAYOUT)
    for name, passthrough in (("documents", True), ("orders", False)):
        cold = reg.load_table(spark, sf, name)
        marker = tmp_path / "cache" / reg._cache_tag(sf) / f"{name}-{reg._layout_key(f'{sf}/{name}.parquet')}.marker"
        assert json.loads(marker.read_text())["passthrough"] is passthrough
        jobs = _jobs(spark, f"layout_warm_{name}", lambda: reg.load_table(spark, sf, name))
        assert jobs == 0, f"warm load_table({name!r}) ran {jobs} Spark jobs"
        warm = reg.load_table(spark, sf, name)
        assert warm.schema == cold.schema
        assert sorted(warm.collect()) == sorted(cold.collect())


@pytest.mark.parametrize("rule", [2, "current"])
def test_marker_without_schema_is_relaid_out(spark, tmp_path, monkeypatch, rule):
    """A marker in the rule-2 format (no recorded schema) at the current
    key is stale: the load rebuilds it instead of inferring the schema."""
    from thesis_iceberg_spark.sources import registry as reg

    monkeypatch.setattr(reg, "_CACHE_BASE", str(tmp_path / "cache"))
    sf = str(tmp_path / "sfx")
    _write_source(spark, sf, "documents", 10)
    src = f"{sf}/documents.parquet"
    tag_dir = tmp_path / "cache" / reg._cache_tag(sf)
    tag_dir.mkdir(parents=True)
    marker = tag_dir / f"documents-{reg._layout_key(src)}.marker"
    st = os.stat(src)
    marker.write_text(json.dumps({
        "src": src, "passthrough": True, "size": st.st_size, "mtime": st.st_mtime,
        "rule": reg._LAYOUT_RULE if rule == "current" else rule,
    }))

    assert reg.load_table(spark, sf, "documents").count() == 10

    rebuilt = json.loads(marker.read_text())
    assert rebuilt["rule"] == reg._LAYOUT_RULE
    assert rebuilt["schema"]["fields"][0]["name"] == "doc_id"


def test_relayout_collects_namespaces_whose_sources_are_gone(spark, tmp_path, monkeypatch):
    """A namespace whose markers all name a deleted source, or that holds
    no marker, is collected by the next relayout once aged; one with a
    live source, or changed recently, stays.  A warm load collects
    nothing."""
    from thesis_iceberg_spark.sources import registry as reg

    cache = tmp_path / "cache"
    monkeypatch.setattr(reg, "_CACHE_BASE", str(cache))
    live_sf = str(tmp_path / "live")
    _write_source(spark, live_sf, "documents", 10)

    def namespace(ns: str, srcs: list[str], aged: bool = True):
        d = cache / ns
        d.mkdir(parents=True)
        (d / "documents-1-2-3-r1").mkdir()
        for i, src in enumerate(srcs):
            (d / f"t{i}-1-2-3-r1.marker").write_text(json.dumps({"src": src}))
        if aged:
            os.utime(d, (_TWO_DAYS_AGO, _TWO_DAYS_AGO))
        return d

    gone = str(tmp_path / "gone" / "documents.parquet")
    live = namespace("live-1", [gone, f"{live_sf}/documents.parquet"])
    dead = namespace("dead-1", [gone, gone])
    empty = namespace("empty-1", [])
    recent = namespace("recent-1", [gone], aged=False)

    sf = str(tmp_path / "sfx")
    _write_source(spark, sf, "documents", 10)
    reg.load_table(spark, sf, "documents")

    assert live.exists() and recent.exists()
    assert not dead.exists() and not empty.exists()
    assert (cache / reg._cache_tag(sf)).exists()

    later = namespace("dead-2", [gone])
    reg.load_table(spark, sf, "documents")
    assert later.exists()
