"""Reads planned from the metadata return the rows that were written.

Data files are written in the schema their manifest entry records and read
back with that schema, with no footer inference.  These tests pin the rows
and types of reads for the types whose physical form is easiest to get
wrong (timestamps, dates, decimals, small-int and float arrays), for a
day-partitioned table, across a type widening and across drop/re-add of a
column; and that a value which cannot be cast to the table type now fails
at write."""

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
