"""Merge-on-read DML (position-delete files) and the snapshot-id /
merge-NULL-key fixes: the storage behaviors the reference's churn tables
exercise via TBLPROPERTIES write.delete.mode=merge-on-read."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from thesis_iceberg_spark.tablefmt import VersionedTable


@pytest.fixture()
def loc(tmp_path):
    return str(tmp_path / "t")


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def _data_dirs(loc):
    return sorted(
        d for d in glob.glob(os.path.join(loc, "data", "snap-*")) if os.path.isdir(d)
    )


def test_mor_delete_never_rewrites_data_files(spark, loc):
    vt = VersionedTable.create(
        spark, loc, df=_df(spark, 0, 100),
        properties={"write.delete.mode": "merge-on-read"},
    )
    vt.append(_df(spark, 100, 200))
    dirs_before = _data_dirs(loc)
    vt.delete(F.col("id") < 10)
    # no data file rewritten or added — only a delete file appeared
    assert _data_dirs(loc) == dirs_before
    assert len(glob.glob(os.path.join(loc, "data", "delete-snap-*"))) == 1
    assert vt.read().count() == 190
    assert vt.read().filter(F.col("id") < 10).count() == 0
    # time travel still sees the pre-delete rows
    assert vt.read(snapshot_id=2).count() == 200
    # a second MoR delete stacks, still no rewrite
    vt.delete(F.col("id") >= 190)
    assert _data_dirs(loc) == dirs_before
    assert vt.read().count() == 180


def test_mor_update_appends_only_updated_rows(spark, loc):
    vt = VersionedTable.create(
        spark, loc, df=_df(spark, 0, 100),
        properties={"write.update.mode": "merge-on-read"},
    )
    dirs_before = _data_dirs(loc)
    vt.update({"v": F.lit(-1).cast("bigint")}, F.col("id") < 5)
    # original file untouched; one new data dir holds the 5 updated rows
    assert dirs_before[0] in _data_dirs(loc)
    new_dirs = [d for d in _data_dirs(loc) if d not in dirs_before]
    assert len(new_dirs) == 1
    assert spark.read.parquet(new_dirs[0]).count() == 5
    got = {r.id: r.v for r in vt.read().collect()}
    assert len(got) == 100
    assert all(got[i] == -1 for i in range(5))
    assert all(got[i] == 2 * i for i in range(5, 100))


def test_mor_delete_noop_when_nothing_matches(spark, loc):
    vt = VersionedTable.create(
        spark, loc, df=_df(spark, 0, 10),
        properties={"write.delete.mode": "merge-on-read"},
    )
    v_before = vt._meta["version"]
    vt.delete(F.col("id") > 1000)
    assert vt._meta["version"] == v_before  # no snapshot committed
    assert not glob.glob(os.path.join(loc, "data", "delete-snap-*"))


def test_compact_folds_position_deletes(spark, loc):
    vt = VersionedTable.create(
        spark, loc, df=_df(spark, 0, 100),
        properties={"write.delete.mode": "merge-on-read"},
    )
    vt.delete(F.col("id") % 2 == 0)
    vt.compact(target_partitions=1)
    snap = vt._current_snapshot_dict()
    assert snap["delete_manifest"] == []  # deletes folded into data files
    assert vt.read().count() == 50
    assert vt.read().filter(F.col("id") % 2 == 0).count() == 0


def test_cow_rewrite_respects_prior_mor_deletes(spark, loc):
    """A CoW delete over a table carrying MoR delete files must not
    resurrect the MoR-deleted rows it rewrites around."""
    vt = VersionedTable.create(spark, loc, df=_df(spark, 0, 100))
    vt.delete(F.col("id") < 10, mode="merge-on-read")
    assert vt.read().count() == 90
    vt.delete(F.col("id") >= 90, mode="copy-on-write")
    got = sorted(r.id for r in vt.read().collect())
    assert got == list(range(10, 90))


def test_append_after_expiry_never_recycles_snapshot_ids(spark, loc):
    """Snapshot ids are table-lifetime unique: after expiry shrinks the
    snapshot list, new commits must NOT reuse surviving ids (len+1 would),
    which corrupted snapshot selection and the parent chain."""
    vt = VersionedTable.create(spark, loc, df=_df(spark, 0, 10))  # snap 1
    vt.append(_df(spark, 10, 20))  # snap 2
    vt.append(_df(spark, 20, 30))  # snap 3
    vt.expire_snapshots(keep_last=1)  # only snap 3 survives
    vt.append(_df(spark, 30, 40))  # must become snap 4, not 2
    ids = [s["snapshot_id"] for s in vt._meta["snapshots"]]
    assert ids == [3, 4]
    assert len(set(ids)) == len(ids)
    assert vt.read().count() == 40
    # history() walks the parent chain without looping
    hist = {r.snapshot_id: r.parent_id for r in vt.history().collect()}
    assert hist[4] == 3


def test_merge_preserves_null_key_target_rows(spark, loc):
    """SQL MERGE leaves unmatched target rows unchanged — including rows
    whose merge-key is NULL (they can never match); they must not be
    rewritten to all-NULL or silently dropped."""
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (None, 99)], "k INT, v INT"
    )
    vt = VersionedTable.create(spark, loc, df=base)
    src = spark.createDataFrame([(2, 200), (3, 300)], "k INT, v INT")
    vt.merge(src, on="k", when_matched_update={"v": "s.v"})
    got = {(r.k, r.v) for r in vt.read().collect()}
    assert got == {(1, 10), (2, 200), (None, 99), (3, 300)}
    # and with inserts disabled, NULL-key target rows still survive
    vt2 = VersionedTable.create(spark, loc + "2", df=base)
    vt2.merge(src, on="k", when_matched_update={"v": "s.v"}, when_not_matched_insert=False)
    got2 = {(r.k, r.v) for r in vt2.read().collect()}
    assert got2 == {(1, 10), (2, 200), (None, 99)}


def test_merge_allows_multiple_null_key_source_rows(spark, loc):
    """NULL-key source rows can never match a target row, so several of
    them are NOT duplicate keys; they insert as new rows."""
    vt = VersionedTable.create(
        spark, loc, df=spark.createDataFrame([(1, 10)], "k INT, v INT")
    )
    src = spark.createDataFrame([(None, 1), (None, 2)], "k INT, v INT")
    vt.merge(src, on="k")  # must not raise
    assert vt.read().count() == 3


def test_mor_table_survives_relocation(spark, loc, tmp_path):
    """Position-delete files key rows by location-RELATIVE paths, so moving
    the table directory must not resurrect MoR-deleted rows."""
    import shutil

    vt = VersionedTable.create(
        spark, loc, df=_df(spark, 0, 50),
        properties={"write.delete.mode": "merge-on-read"},
    )
    vt.delete(F.col("id") < 10)
    assert vt.read().count() == 40
    new_loc = str(tmp_path / "moved")
    shutil.move(loc, new_loc)
    moved = VersionedTable(spark, new_loc)
    assert moved.read().count() == 40
    assert moved.read().filter(F.col("id") < 10).count() == 0


def test_trailing_slash_location_normalized(spark, tmp_path):
    """A trailing slash (or other non-normal path form) in the table
    location must not corrupt the relative delete-file keys CoW/MoR use."""
    loc = str(tmp_path / "t") + "/"
    vt = VersionedTable.create(spark, loc, df=_df(spark, 0, 20))
    vt.delete(F.col("id") < 5)  # CoW path computes relative keys
    assert sorted(r.id for r in vt.read().collect()) == list(range(5, 20))
    vt.delete(F.col("id") >= 18, mode="merge-on-read")
    assert vt.read().count() == 13


def _manifest_paths(vt):
    """Every data-file path referenced by the CURRENT snapshot."""
    snap = vt._select_snapshot()
    return {f["path"] for entry in snap["manifest"] for f in entry["files"]}


def test_cow_merge_rewrites_only_matched_files(spark, loc):
    """A 1-key MERGE into a multi-file table must leave every untouched
    data file referenced by the new snapshot (mirror of
    test_mor_delete_never_rewrites_data_files for the CoW merge path)."""
    vt = VersionedTable.create(spark, loc, df=_df(spark, 0, 100).repartition(4))
    vt.append(_df(spark, 100, 200).repartition(4))
    paths_before = _manifest_paths(vt)
    assert len(paths_before) == 8
    src = spark.createDataFrame([(5, -1), (250, -2)], "id BIGINT, v BIGINT")
    vt.merge(src, on="id", when_matched_update={"v": "s.v"})
    paths_after = _manifest_paths(vt)
    # exactly ONE pre-merge file (the one holding id=5) was dropped; the
    # other 7 survive into the new snapshot BY REFERENCE
    survivors = paths_before & paths_after
    assert len(survivors) == 7
    new_files = paths_after - paths_before
    assert new_files and all(p.startswith("data/snap-3") for p in new_files)
    # values are full MERGE semantics
    got = {r.id: r.v for r in vt.read().collect()}
    assert len(got) == 201 and got[5] == -1 and got[250] == -2 and got[6] == 12


def test_cow_merge_pure_insert_appends_without_rewrite(spark, loc):
    """MERGE with zero key overlap must not rewrite anything — it
    degenerates to an append (still labeled 'merge' in history)."""
    vt = VersionedTable.create(spark, loc, df=_df(spark, 0, 50))
    paths_before = _manifest_paths(vt)
    src = spark.createDataFrame([(500, 1), (501, 2)], "id BIGINT, v BIGINT")
    vt.merge(src, on="id", when_matched_update={"v": "s.v"})
    assert paths_before <= _manifest_paths(vt)
    assert vt.read().count() == 52
    assert [s.operation for s in vt.snapshots().collect()] == ["append", "merge"]


def test_mor_merge_never_rewrites_data_files(spark, loc):
    """write.merge.mode=merge-on-read: MERGE position-deletes matched rows
    and appends updated+inserted rows; no data file is ever rewritten —
    the O(batch) CDC-upsert write shape."""
    vt = VersionedTable.create(
        spark, loc, df=_df(spark, 0, 100).repartition(4),
        properties={"write.merge.mode": "merge-on-read"},
    )
    paths_before = _manifest_paths(vt)
    src = spark.createDataFrame([(5, -1), (250, -2)], "id BIGINT, v BIGINT")
    vt.merge(src, on="id", when_matched_update={"v": "s.v"})
    # every pre-merge file still referenced; one delete file + one small
    # appended data dir (2 rows: the updated row and the insert)
    assert paths_before <= _manifest_paths(vt)
    assert len(glob.glob(os.path.join(loc, "data", "delete-snap-*"))) == 1
    snap = vt._select_snapshot()
    new_rows = sum(
        e["rows"] for e in snap["manifest"]
        if e["path"] not in {p.rsplit("/", 1)[0] for p in paths_before}
        and not any(f["path"] in paths_before for f in (e.get("files") or []))
    )
    assert new_rows == 2
    got = {r.id: r.v for r in vt.read().collect()}
    assert len(got) == 101 and got[5] == -1 and got[250] == -2 and got[6] == 12
    # matched-delete clause also stays MoR: second delete file, no rewrite
    vt.merge(
        spark.createDataFrame([(7, 0)], "id BIGINT, v BIGINT"),
        on="id",
        when_matched_update=None,
        when_not_matched_insert=False,
        when_matched_delete="true",
    )
    assert paths_before <= _manifest_paths(vt)
    assert len(glob.glob(os.path.join(loc, "data", "delete-snap-*"))) == 2
    assert vt.read().count() == 100
    assert vt.read().filter(F.col("id") == 7).count() == 0


def test_mor_merge_update_without_delete_keeps_unmatched_in_place(spark, loc):
    """Matched rows with NO update clause and no delete condition must stay
    in place untouched (no delete file, no new snapshot needed — the MERGE
    is a pure insert of the unmatched source rows)."""
    vt = VersionedTable.create(
        spark, loc, df=_df(spark, 0, 20),
        properties={"write.merge.mode": "merge-on-read"},
    )
    src = spark.createDataFrame([(5, 999), (300, 3)], "id BIGINT, v BIGINT")
    vt.merge(src, on="id")  # no clauses: matched rows keep TARGET values
    got = {r.id: r.v for r in vt.read().collect()}
    assert len(got) == 21 and got[5] == 10 and got[300] == 3
    # no position-delete file was needed
    assert glob.glob(os.path.join(loc, "data", "delete-snap-*")) == []


def test_cow_merge_over_mor_state_never_resurrects(spark, loc):
    """A CoW MERGE over a table with MoR position-deletes must not
    resurrect deleted rows — in the rewritten files NOR in the kept ones
    (the carried delete manifest still masks kept files)."""
    vt = VersionedTable.create(
        spark, loc, df=_df(spark, 0, 100).repartition(4),
        properties={"write.delete.mode": "merge-on-read"},
    )
    vt.delete(F.col("id") < 10)  # MoR: delete file only
    src = spark.createDataFrame([(50, -1), (5, -5)], "id BIGINT, v BIGINT")
    # id=5 is MoR-deleted: it matches nothing (dead), so only id=50 updates
    vt.merge(src, on="id", when_matched_update={"v": "s.v"},
             when_not_matched_insert=False, mode="copy-on-write")
    got = {r.id: r.v for r in vt.read().collect()}
    assert len(got) == 90
    assert got[50] == -1
    assert 5 not in got and 9 not in got  # still deleted everywhere
