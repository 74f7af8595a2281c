"""Layout-cache GC (ADVICE r4): content+rule-keyed cache dirs must not
strand their predecessors under /tmp forever — a regeneration or rule
bump re-keys the dir, and the old key is unreachable garbage.  Another
rule's entries may be a second checkout's live layout, so they are
collected only once they are a day old."""

from __future__ import annotations

import os
import time

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
