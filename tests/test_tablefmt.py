"""Unit tests for the versioned-table layer, the semantic matcher, and the
API-view layer — covering the reference's evolution scripts (FIXTURES.md
F2-F5), including the drop/re-add-new-field-id edge case."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from thesis_iceberg_spark.functions.resolve import AMBIGUOUS, MATCH, NO_MATCH, match_column
from thesis_iceberg_spark.tablefmt import VersionedTable
from thesis_iceberg_spark.views import ApiView


@pytest.fixture()
def loc(tmp_path):
    p = str(tmp_path / "t")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _toy(spark):
    return spark.createDataFrame(
        [(1, "alice", "2025-02-20 10:00:00"), (2, "bob", "2025-02-21 11:00:00"),
         (3, "carol", "2025-02-21 12:00:00")],
        "id INT, name STRING, added_at_s STRING",
    ).withColumn("added_at", F.to_timestamp("added_at_s")).drop("added_at_s")


def test_create_append_read(spark, loc):
    vt = VersionedTable.create(spark, loc, df=_toy(spark), partition_day="added_at")
    assert vt.read().count() == 3
    vt.append(_toy(spark).withColumn("id", F.col("id") + 10))
    assert vt.read().count() == 6
    assert len(vt._meta["snapshots"]) == 2


def test_time_travel_and_metadata_tables(spark, loc):
    vt = VersionedTable.create(spark, loc, df=_toy(spark), now_ms=1000)
    vt.append(_toy(spark).withColumn("id", F.col("id") + 10), now_ms=2000)
    assert vt.read(snapshot_id=1).count() == 3
    assert vt.read(snapshot_id=2).count() == 6
    assert vt.read(as_of_ms=1500).count() == 3
    assert vt.read(as_of_ms=2500).count() == 6
    assert vt.read(as_of_ms=500).count() == 0  # before first snapshot
    snaps = vt.snapshots().collect()
    assert [s.operation for s in snaps] == ["append", "append"]
    hist = vt.history().collect()
    assert all(h.is_current_ancestor for h in hist)
    assert vt.metadata_log_entries().count() == vt._meta["version"]
    assert vt.refs().collect()[0].name == "main"


def test_snapshot_summaries_distinguish_added_from_carried(spark, loc):
    """Iceberg-style snapshot summary: ADDED counts only entries first
    committed by that snapshot (commit-time seq == snapshot id), TOTAL is
    the snapshot's full state — auditable from metadata alone."""
    vt = VersionedTable.create(spark, loc, df=_toy(spark))
    vt.append(_toy(spark).withColumn("id", F.col("id") + 10))
    vt.delete("id = 1", mode="merge-on-read")  # delete files only
    s1, s2, s3 = [r.summary for r in vt.snapshots().collect()]
    assert s1["added-records"] == "3" and s1["total-records"] == "3"
    assert s2["added-records"] == "3" and s2["total-records"] == "6"
    # exact: snapshot 2 added ONE entry next to ONE carried entry — a
    # regression that counts carried entries as added must fail here
    assert s2["added-data-files"] == "1" and s2["total-data-files"] == "2"
    # MoR delete: no data files added, one delete file, totals carried
    assert s3["added-data-files"] == "0"
    assert s3["added-delete-files"] == "1"
    assert s3["total-records"] == "6"  # manifest rows; deletes apply at read
    assert vt.read().count() == 5


def test_delete_update_merge(spark, loc):
    vt = VersionedTable.create(spark, loc, df=_toy(spark))
    vt.delete("id = 2")
    assert sorted(r.id for r in vt.read().collect()) == [1, 3]
    vt.update({"name": "upper(name)"}, "id = 1")
    names = {r.id: r.name for r in vt.read().collect()}
    assert names[1] == "ALICE" and names[3] == "carol"
    # merge: update carol, insert dave, delete alice
    src = spark.createDataFrame(
        [(1, "x", None), (3, "CAROL", None), (4, "dave", None)],
        vt.spark_schema(),
    )
    vt.merge(
        src,
        on="id",
        when_matched_update={"name": "s.name"},
        when_not_matched_insert=True,
        when_matched_delete="s.id = 1",
    )
    rows = {r.id: r.name for r in vt.read().collect()}
    assert rows == {3: "CAROL", 4: "dave"}
    ops = [s.operation for s in vt.snapshots().collect()]
    assert ops == ["append", "delete", "update", "merge"]
    # SQL-standard MERGE: duplicate source keys are an error, not silent fanout
    dup_src = spark.createDataFrame(
        [(3, "x", None), (3, "y", None)], vt.spark_schema()
    )
    with pytest.raises(ValueError, match="multiple rows"):
        vt.merge(dup_src, on="id")


def test_rename_resolves_old_name(spark, loc):
    vt = VersionedTable.create(spark, loc, df=_toy(spark))
    vt.rename_column("name", "new_name")
    vt.rename_column("new_name", "name3")  # rename chain (FIXTURES.md F5)
    assert vt.resolve_column("name") == "name3"
    assert vt.resolve_column("new_name") == "name3"
    assert vt.resolve_column("name3") == "name3"
    assert vt.resolve_column("ghost") is None
    # data written under the original name is readable under the final name
    vals = sorted(r.name3 for r in vt.select_by_history("name").collect())
    assert vals == ["alice", "bob", "carol"]


def test_drop_readd_gets_new_field_id(spark, loc):
    """FIXTURES.md F4: a dropped-then-re-added column gets a NEW field id,
    so old data must NOT resurface under the re-added column."""
    vt = VersionedTable.create(spark, loc, df=_toy(spark))
    old_ids = {f.name: f.id for f in vt.current_schema}
    vt.drop_column("name")
    vt.add_column("name", "string")
    new_ids = {f.name: f.id for f in vt.current_schema}
    assert new_ids["name"] != old_ids["name"]
    # old files' name values are dead: re-added column reads as null
    assert [r.name for r in vt.read().collect()] == [None, None, None]


def test_changelog(spark, loc):
    vt = VersionedTable.create(spark, loc, df=_toy(spark))
    vt.delete("id = 1")
    ch = vt.changelog(from_snapshot=1, to_snapshot=2).collect()
    assert [(r.id, r._change_type) for r in ch] == [(1, "DELETE")]
    # an UPDATE shows as DELETE(old) + INSERT(new), like Iceberg's CoW view
    vt.update({"name": "'bobby'"}, "id = 2")
    ch2 = sorted(
        (r.id, r.name, r._change_type)
        for r in vt.changelog(from_snapshot=2, to_snapshot=3).collect()
    )
    assert ch2 == [(2, "bob", "DELETE"), (2, "bobby", "INSERT")]


def test_type_widening(spark, loc):
    vt = VersionedTable.create(spark, loc, df=_toy(spark))  # id INT
    vt.change_column_type("id", "bigint")
    assert dict(vt.read().dtypes)["id"] == "bigint"
    assert sorted(r.id for r in vt.read().collect()) == [1, 2, 3]  # old files widen
    vt.append(_toy(spark).withColumn("id", (F.col("id") + 2**33).cast("bigint")))
    assert vt.read().count() == 6  # values beyond int32 now storable
    with pytest.raises(ValueError, match="unsafe"):
        vt.change_column_type("id", "int")  # narrowing is rejected
    with pytest.raises(ValueError, match="unsafe"):
        vt.change_column_type("name", "bigint")


def test_partition_pruning_layout(spark, loc):
    """day() hidden partitioning produces partition directories (the scan
    prunes them when filtering on the derived day)."""
    import glob
    import os

    vt = VersionedTable.create(spark, loc, df=_toy(spark), partition_day="added_at")
    dirs = glob.glob(os.path.join(loc, "data", "snap-1-*", "_p_day=*"))
    assert sorted(os.path.basename(d) for d in dirs) == [
        "_p_day=2025-02-20",
        "_p_day=2025-02-21",
    ]
    assert vt.read().count() == 3  # partition col stripped from reads
    assert "_p_day" not in vt.read().columns


def test_semantic_matcher():
    cols = ["Phone number", "Email", "First Name", "Last Name"]
    assert match_column("Phone", cols).column == "Phone number"
    assert match_column("phone_number", cols) == match_column("Phone number", cols)
    assert match_column("zzz_qqq", cols).status == NO_MATCH
    amb = match_column("Name", ["First Name", "Last Name"])
    assert amb.status == AMBIGUOUS and set(amb.candidates) == {"First Name", "Last Name"}
    assert match_column("email address", cols).column == "Email"


def test_api_view_survives_rename(spark, loc):
    vt = VersionedTable.create(spark, loc, df=_toy(spark))
    view = ApiView("people", vt, {"person_id": "id", "person_name": "name"})
    before = {r.person_id: r.person_name for r in view.dataframe().collect()}
    vt.rename_column("name", "full_name")
    after = {r.person_id: r.person_name for r in view.dataframe().collect()}
    assert before == after  # the thesis experiment's success criterion
    report = view.binding_report()
    assert report["bindings"]["person_name"]["resolved_to"] == "full_name"
    assert report["schema_id"] == 1


def test_api_view_resolves_and_reads_on_one_handle(spark, loc):
    """A rename committed after the view loads the table's metadata must
    not split one execution across two schemas: resolution and the read
    use the same handle, so the view still resolves and reads."""
    vt = VersionedTable.create(spark, loc, df=_toy(spark))
    view = ApiView("people", vt, {"person_id": "id", "person_name": "name"})
    loads = []

    def load_then_rename():
        table = VersionedTable(spark, loc)
        loads.append(table)
        if len(loads) == 1:  # another writer renames right after the load
            VersionedTable(spark, loc).rename_column("name", "full_name")
        return table

    view._current_table = load_then_rename
    got = {r.person_id: r.person_name for r in view.dataframe().collect()}
    assert got == {1: "alice", 2: "bob", 3: "carol"}
    assert len(loads) == 1  # one metadata load per execution
    assert VersionedTable(spark, loc).columns == ["id", "full_name", "added_at"]


def test_changelog_update_images_with_key(spark, loc):
    """changelog(key=...) retags delete+insert pairs sharing an identifier
    key as UPDATE_BEFORE/UPDATE_AFTER (Iceberg identifier-field semantics)
    — including over an MoR update snapshot, whose position-delete +
    append pair IS the pre/post image."""
    vt = VersionedTable.create(
        spark, loc, df=_toy(spark),
        properties={"write.update.mode": "merge-on-read"},
    )
    vt.update({"name": "'bobby'"}, "id = 2")  # MoR: delete file + append
    ch = sorted(
        (r.id, r.name, r._change_type)
        for r in vt.changelog(from_snapshot=1, to_snapshot=2, key="id").collect()
    )
    assert ch == [(2, "bob", "UPDATE_BEFORE"), (2, "bobby", "UPDATE_AFTER")]
    # mixed snapshot: a genuine insert and delete keep their plain tags
    vt.append(spark.createDataFrame([(9, "zed", None)], vt.spark_schema()))
    vt.delete("id = 1")
    ch2 = sorted(
        (r.id, r._change_type)
        for r in vt.changelog(from_snapshot=2, to_snapshot=4, key="id").collect()
    )
    assert ch2 == [(1, "DELETE"), (9, "INSERT")]
    # and without key= the MoR update still reads DELETE+INSERT (CoW view)
    ch3 = sorted(
        (r.id, r._change_type)
        for r in vt.changelog(from_snapshot=1, to_snapshot=2).collect()
    )
    assert ch3 == [(2, "DELETE"), (2, "INSERT")]


def test_every_write_records_the_metadata_shape_reads_rely_on(spark, loc):
    """Reads take ``seq``, ``schema_id``, ``spec_id`` and the file list from
    every data entry, ``source_id`` from every partition spec, and
    location-relative ``_del_file`` keys from position deletes, with no
    fallback for metadata that lacks them.  Drive a partitioned table
    through every write path and check the metadata on disk after each."""
    import os
    import re

    df = spark.sql(
        "SELECT id, id % 7 AS v, "
        "CAST(date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS TIMESTAMP) AS ts "
        "FROM range(30)"
    )
    vt = VersionedTable.create(spark, loc, df=df.repartition(2), partition_day="ts")
    src = spark.createDataFrame(
        [(7, 70, None), (200, 2, None)], "id BIGINT, v BIGINT, ts TIMESTAMP"
    )
    writes = [
        ("append", lambda: vt.append(df.withColumn("id", F.col("id") + 100))),
        ("cow delete", lambda: vt.delete("id = 3")),
        ("mor delete", lambda: vt.delete("id = 4", mode="merge-on-read")),
        ("update", lambda: vt.update({"v": "v + 1"}, "id = 5", mode="merge-on-read")),
        ("merge", lambda: vt.merge(src, on="id", when_matched_update={"v": "s.v"})),
        ("delete_by_key", lambda: vt.delete_by_key(src.select("id").limit(1))),
        ("rename", lambda: vt.rename_column("ts", "event_ts")),
        ("set_partition_spec", lambda: vt.set_partition_spec(None)),
        ("compact", lambda: vt.compact()),
    ]
    pos_deletes: set[str] = set()
    for name, write in writes:
        write()
        meta = VersionedTable(spark, loc)._meta
        schema_ids = {s["schema_id"] for s in meta["schemas"]}
        spec_ids = {s["spec_id"] for s in meta["partition_specs"]}
        for spec in meta["partition_specs"]:
            for field in spec["spec"]:
                assert isinstance(field["source_id"], int), (name, spec)
        for snap in meta["snapshots"]:
            for e in snap["manifest"]:
                assert isinstance(e["seq"], int), (name, e)
                assert e["schema_id"] in schema_ids, (name, e)
                assert e["spec_id"] in spec_ids, (name, e)
                assert isinstance(e["files"], list), (name, e)
            for d in snap["delete_manifest"]:
                assert isinstance(d["seq"], int), (name, d)
                if "eq_field_ids" in d or d["path"] in pos_deletes:
                    continue
                pos_deletes.add(d["path"])
                keys = spark.read.parquet(os.path.join(loc, d["path"]))
                for (k,) in keys.select("_del_file").distinct().collect():
                    assert not re.match(r"^([A-Za-z0-9+.-]+:)?/", k), (name, k)
                    assert os.path.isfile(os.path.join(loc, k)), (name, k)
    assert len(pos_deletes) == 2  # the MoR delete's and the update's
