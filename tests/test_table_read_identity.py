"""Reads planned from the metadata return the rows that were written.

Data files are written in the schema their manifest entry records and read
back with that schema, with no footer inference.  These tests pin the rows
and types of reads for the types whose physical form is easiest to get
wrong (timestamps, dates, decimals, small-int and float arrays), for a
day-partitioned table, across a type widening and across drop/re-add of a
column; and that a value which cannot be cast to the table type now fails
at write.  The last group pins merge-on-read snapshots, which are read as
one parquet relation per written schema: the rows of each shape, and the
number of data scans in the plan."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from thesis_iceberg_spark.tablefmt import VersionedTable

_TYPES_SQL = """SELECT * FROM VALUES
 (1, TIMESTAMP'2024-02-29 13:14:15.123456', TIMESTAMP_NTZ'2024-02-29 01:02:03.5',
  DATE'2024-02-29', CAST('12.345' AS DECIMAL(10,3)), CAST('-1.5' AS DECIMAL(20,3)),
  array(CAST(0.5 AS FLOAT), CAST(-1.25 AS FLOAT)), array(CAST(-128 AS TINYINT), CAST(127 AS TINYINT))),
 (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
AS t(id, ts, ntz, d, dec10, dec20, af, ai8)"""

_TYPES_SCHEMA = (
    "struct<id:int,ts:timestamp,ntz:timestamp_ntz,d:date,dec10:decimal(10,3),"
    "dec20:decimal(20,3),af:array<float>,ai8:array<tinyint>>"
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_types_read_back_identical(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), df=spark.sql(_TYPES_SQL))
    vt.append(spark.sql(_TYPES_SQL).withColumn("id", F.col("id") + 10))
    got = vt.read()
    assert got.schema.simpleString() == _TYPES_SCHEMA
    first = (
        1,
        dt.datetime(2024, 2, 29, 13, 14, 15, 123456),
        dt.datetime(2024, 2, 29, 1, 2, 3, 500000),
        dt.date(2024, 2, 29),
        Decimal("12.345"),
        Decimal("-1.500"),
        [0.5, -1.25],
        [-128, 127],
    )
    nulls = (None,) * 7
    assert _rows(got) == [first, (2,) + nulls, (11,) + first[1:], (12,) + nulls]


def test_partition_day_table_reads_back(spark, tmp_path):
    df = spark.sql(
        "SELECT id, CAST(date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS TIMESTAMP) AS ts "
        "FROM range(12)"
    )
    vt = VersionedTable.create(spark, str(tmp_path / "t"), df=df, partition_day="ts")
    vt.append(df.withColumn("id", F.col("id") + 100))
    assert _rows(vt.read()) == _rows(df.unionByName(df.withColumn("id", F.col("id") + 100)))
    assert vt.read().columns == ["id", "ts"]
    assert vt.scan({"ts": ("2024-01-02", "2024-01-02")}).filter(
        "to_date(ts) = DATE'2024-01-02'"
    ).count() == 8


def test_files_written_before_a_type_widening(spark, tmp_path):
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), df=spark.createDataFrame([(1, 0.5)], "n INT, x FLOAT")
    )
    vt.change_column_type("n", "bigint")
    vt.change_column_type("x", "double")
    vt.append(spark.createDataFrame([(2**40, 0.1)], "n BIGINT, x DOUBLE"))
    got = vt.read()
    assert got.schema.simpleString() == "struct<n:bigint,x:double>"
    assert _rows(got) == [(1, 0.5), (2**40, 0.1)]
    assert _rows(vt.read(snapshot_id=1)) == [(1, 0.5)]


def test_add_drop_readd_column(spark, tmp_path):
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), df=spark.createDataFrame([(1,)], "id INT")
    )
    vt.add_column("c", "string")
    vt.append(spark.createDataFrame([(2, "two")], "id INT, c STRING"))
    vt.drop_column("c")
    vt.append(spark.createDataFrame([(3,)], "id INT"))
    vt.add_column("c", "bigint")  # re-added: a NEW field id, old values gone
    vt.append(spark.createDataFrame([(4, 40)], "id INT, c BIGINT"))
    assert _rows(vt.read()) == [(1, None), (2, None), (3, None), (4, 40)]
    # time travel projects to the current schema: the re-added c is new
    assert _rows(vt.read(snapshot_id=2)) == [(1, None), (2, None)]


def test_write_casts_to_the_table_type(spark, tmp_path):
    """An append in a wider or textual type is stored in the table type;
    one that cannot be cast fails at write and commits nothing."""
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), df=spark.createDataFrame([(1,)], "n INT")
    )
    vt.append(spark.createDataFrame([(2,)], "n BIGINT"))
    vt.append(spark.createDataFrame([("3",)], "n STRING"))
    assert _rows(vt.read()) == [(1,), (2,), (3,)]
    with pytest.raises(Exception, match="CAST"):
        vt.append(spark.createDataFrame([("x",)], "n STRING"))
    assert len(VersionedTable(spark, vt.location)._meta["snapshots"]) == 3


# --- merge-on-read snapshots read as one relation per written schema ---------
#
# A read plans one parquet relation over all the files of the entries that
# share a written schema, inside each equality-delete group.  The rows must
# not depend on that grouping: each shape below is checked against a model
# of the committed writes, as a multiset.

_MOR = {f"write.{op}.mode": "merge-on-read" for op in ("delete", "update", "merge")}


def _data_scans(df) -> int:
    """Parquet scans of data files in ``df``'s physical plan; delete-file
    scans (their roots are data/delete-snap-* and data/eqdel-snap-*
    directories) are not counted."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    n = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            n += "/data/snap-" in leaf.relation().location().rootPaths().head().toString()
    return n


def test_mor_read_across_mixed_written_schemas(spark, tmp_path):
    """Entries written under four schemas (a rename, a drop, a re-add)
    with MoR deletes and an update over them: one scan per schema."""
    vt = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df=spark.createDataFrame([(i, f"s{i}", 10 * i) for i in range(6)], "id INT, s STRING, w INT"),
        properties=_MOR,
    )
    vt.rename_column("s", "name")
    vt.append(spark.createDataFrame([(6, "s6", 60), (7, "s7", 70)], "id INT, name STRING, w INT"))
    vt.delete("id = 1")
    vt.drop_column("w")
    vt.append(spark.createDataFrame([(8, "s8")], "id INT, name STRING"))
    vt.add_column("w", "bigint")  # re-added: a new field id, old values gone
    vt.append(spark.createDataFrame([(9, "s9", 900)], "id INT, name STRING, w BIGINT"))
    vt.update({"name": "'u'"}, "id IN (2, 7, 9)")
    vt.delete("id = 8")
    got = vt.read()
    assert got.columns == ["id", "name", "w"]
    assert _rows(got) == [
        (0, "s0", None), (2, "u", None), (3, "s3", None), (4, "s4", None),
        (5, "s5", None), (6, "s6", None), (7, "u", None), (9, "u", 900),
    ]
    manifest = vt._current_manifest()
    assert len({e["schema_id"] for e in manifest}) == 4 and len(manifest) == 5
    assert _data_scans(got) == 4
    # time travel to before the drop: still mapped to today's schema
    before_drop = vt._meta["snapshots"][2]["snapshot_id"]
    assert _rows(vt.read(snapshot_id=before_drop)) == [
        (i, f"s{i}", None) for i in (0, 2, 3, 4, 5, 6, 7)
    ]


def test_mor_read_across_a_partition_spec_change(spark, tmp_path):
    """Files written under day(ts) and then unpartitioned are one scan."""
    df = spark.sql(
        "SELECT id, CAST(date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS TIMESTAMP) AS ts "
        "FROM range(12)"
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), df=df, partition_day="ts", properties=_MOR
    )
    vt.set_partition_spec(None)
    vt.append(df.withColumn("id", F.col("id") + 100))
    vt.delete("id % 4 = 0")
    vt.update({"id": "id + 1000"}, "id IN (1, 101)")
    day = [dt.datetime(2024, 1, 1 + i % 3) for i in range(12)]
    want = [
        (base + i + (1000 if i == 1 else 0), day[i])
        for base in (0, 100)
        for i in range(12)
        if i % 4 != 0
    ]
    got = vt.read()
    assert _rows(got) == sorted(want)
    assert _data_scans(got) == 1
    pruned = vt.scan({"ts": ("2024-01-02", "2024-01-02")}).filter("to_date(ts) = DATE'2024-01-02'")
    assert _rows(pruned) == sorted(r for r in want if r[1].day == 2)


def test_mor_read_with_equality_deletes_scoped_to_some_entries(spark, tmp_path):
    """Equality deletes apply only to the entries committed before them:
    one scan per equality-delete group."""

    def rows(pairs):
        return spark.createDataFrame(pairs, "id BIGINT, v BIGINT")

    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), df=rows([(i, i) for i in range(6)]), properties=_MOR
    )
    vt.append(rows([(i, i) for i in range(6, 10)]))
    vt.delete_by_key(spark.createDataFrame([(1,), (7,)], "id BIGINT"))
    vt.append(rows([(1, -1), (7, -7), (8, -8)]))  # later: survives the first key set
    vt.delete("id = 3")
    vt.delete_by_key(spark.createDataFrame([(8,)], "id BIGINT"))  # all three entries
    got = vt.read()
    assert _rows(got) == [(0, 0), (1, -1), (2, 2), (4, 4), (5, 5), (6, 6), (7, -7), (9, 9)]
    assert _data_scans(got) == 2


def test_cow_dml_and_compact_over_mor_state(spark, tmp_path):
    """Copy-on-write update and delete over position and equality deletes,
    then compaction: the same rows at each step."""
    vt = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df=spark.range(0, 40).selectExpr("id", "id * 2 AS v").repartition(4),
        properties=_MOR,
    )
    vt.append(spark.range(40, 60).selectExpr("id", "id * 2 AS v").repartition(2))
    vt.delete("id % 10 = 0")
    vt.delete_by_key(spark.createDataFrame([(11,), (41,)], "id BIGINT"))
    want = {i: 2 * i for i in range(60) if i % 10 and i not in (11, 41)}
    assert _rows(vt.read()) == sorted(want.items())

    vt.update({"v": "v + 1"}, "id >= 30 AND id < 50", mode="copy-on-write")
    want.update({i: v + 1 for i, v in want.items() if 30 <= i < 50})
    assert _rows(vt.read()) == sorted(want.items())
    vt.delete("id < 5 OR id = 55", mode="copy-on-write")
    want = {i: v for i, v in want.items() if i >= 5 and i != 55}
    assert _rows(vt.read()) == sorted(want.items())

    vt.compact()
    assert vt._current_delete_manifest() == [] and len(vt._current_manifest()) == 1
    assert _rows(vt.read()) == sorted(want.items())


def test_table_service_shape_reads_as_one_data_scan(spark, sf_dir, tmp_path):
    """A created entry, an appended entry and a MoR update's entry, with
    two position-delete files: one data scan, not one per entry."""
    from thesis_iceberg_spark.sources.registry import load_table

    src = load_table(spark, sf_dir, "orders").repartitionByRange(8, "o_orderkey")
    vt = VersionedTable.create(spark, str(tmp_path / "t"), df=src, properties=_MOR)
    n = src.count()
    vt.append(vt.read().filter("o_orderkey < 50").withColumn("o_orderkey", F.col("o_orderkey") + 10**7))
    vt.update({"o_orderstatus": "'U'"}, "o_orderkey >= 100 AND o_orderkey < 130")
    vt.delete("o_orderkey >= 150 AND o_orderkey < 180")
    assert len(vt._current_manifest()) == 3 and len(vt._current_delete_manifest()) == 2
    got = vt.read()
    assert _data_scans(got) == 1
    deleted = src.filter("o_orderkey >= 150 AND o_orderkey < 180").count()
    appended = src.filter("o_orderkey < 50").count()
    assert got.count() == n + appended - deleted
    assert got.filter("o_orderstatus = 'U'").count() == src.filter(
        "o_orderkey >= 100 AND o_orderkey < 130"
    ).count()
